#!/usr/bin/env python3
"""The lake benchmark: one seeded workload, one run, one JSON line.

Usage (from the repository root):
  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
  python3 perfbench/run.py --selftest

A run builds the harness (``perfbench/build.py``), derives its inputs
from the seed (``perfbench/gen.py``), runs the workload's ops in one
JVM with one client (``perfbench/harness``), checks every op's output,
and prints a report followed by one JSON object as the last line:
end-to-end metrics with ``--trace 0``, per-layer metrics with
``--trace 1``. Each run is also kept under ``.bench_out/runs`` for
``perfbench/compare.py``; a traced run writes its spans under
``.bench_out/traces`` and reports its overhead against the latest
untraced run of the same workload.

Session settings and workloads are in ``perfbench/config.json``; metric
names, units, bounds and the run length in ``BENCHMARK.json``.
"""
import argparse
import json
import math
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
import gen  # noqa: E402

OUT = ".bench_out"
CACHE = ".bench_cache"
TMP = ".bench_tmp"
JVM_TIMEOUT_S = 170
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def load_config():
    """config.json (session, workloads) joined with BENCHMARK.json
    (metric names, units, bounds, run length)."""
    with open(os.path.join(HERE, "config.json")) as f:
        cfg = json.load(f)
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    cfg.update({k: bench[k] for k in ("run_seconds", "end_to_end", "per_layer")})
    return cfg


def corpus_dir(scale):
    """The engine's bench corpus (graft.Bench's SPARK_GRAFT_SF_DIR
    default) or its sibling at another scale."""
    base = os.environ.get("SPARK_GRAFT_SF_DIR")
    if not base:
        with open("src/main/scala/graft/Bench.scala") as f:
            m = re.search(r'"SPARK_GRAFT_SF_DIR",\s*"([^"]+)"', f.read())
        if not m:
            sys.exit("cannot find the engine's bench corpus")
        base = m.group(1)
    d = os.path.join(os.path.dirname(base.rstrip("/")), scale)
    if not os.path.isdir(d):
        sys.exit(f"corpus {d} not found")
    return d


def prune(pattern_dir, keep):
    """Keep only the `keep` most recently used entries of a cache dir."""
    if not os.path.isdir(pattern_dir):
        return
    entries = sorted((os.path.join(pattern_dir, e) for e in os.listdir(pattern_dir)),
                     key=os.path.getmtime)
    for e in entries[:-keep]:
        shutil.rmtree(e, ignore_errors=True)


def oracle_sql(cp, keys):
    """SparkEntry.oracleSql for `keys`, cached per build."""
    path = os.path.join(build.OUT, "oracle_sql.json")
    if os.path.exists(path):
        with open(path) as f:
            cached = json.load(f)
        if all(k in cached for k in keys):
            return cached
    os.makedirs(TMP, exist_ok=True)
    plan = os.path.join(TMP, f"oracle-{os.getpid()}.json")
    with open(plan, "w") as f:
        json.dump({"keys": sorted(keys), "out": path}, f)
    java_tmp = os.path.abspath(os.path.join(TMP, f"oracle-{os.getpid()}"))
    os.makedirs(java_tmp, exist_ok=True)
    subprocess.run(["java", "-Xmx1g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={java_tmp}", "-cp", cp,
                    "perfbench.LakeBench", "oracle", plan],
                   check=True, timeout=JVM_TIMEOUT_S, stdout=sys.stderr)
    shutil.rmtree(java_tmp, ignore_errors=True)
    os.remove(plan)
    with open(path) as f:
        return json.load(f)


def all_keys(cfg):
    """Keys of every workload."""
    return sorted({k for w in cfg["workloads"].values() for k in w.get("keys", [])})


def expected(cfg, cp, scale, lake):
    """Expected answer of every key, computed at most once per checkout
    and corpus, so only a checkout's first run pays for them."""
    src = corpus_dir(scale)
    keys = all_keys(cfg)
    sqls = oracle_sql(cp, keys)
    missing = [k for k in keys if k not in sqls]
    if missing:
        sys.exit(f"keys without a DuckDB twin: {missing}")
    cache = os.path.join(CACHE, "expected", f"{scale}-{gen.corpus_id(src)}.json")
    return gen.expected_answers(lake, gen.corpus_id(src), {k: sqls[k] for k in keys},
                                cache, log=log)


def pick_objects(objects, per_table):
    """The first objects of each table, in the manifest's seeded landing
    order, so every run lands the same mix of tables."""
    left = dict(per_table)
    picked = []
    for o in objects:
        if left.get(o["table"], 0) > 0:
            left[o["table"]] -= 1
            picked.append(o)
    return picked


def schedule(cfg, name, seed):
    """The op list of one run: `passes` seeded orders of the key set."""
    w = cfg["workloads"][name]
    ops = []
    for p in range(w["passes"]):
        order = gen.rng(seed, f"ops:{name}:{p}").permutation(len(w["keys"]))
        ops += [w["keys"][i] for i in order]
    return ops


def tail_rank(n):
    """(percentile, 0-based index) of the highest percentile with at
    least ten ops beyond it."""
    if n < 11:
        raise ValueError(f"{n} ops leave no percentile with ten beyond it")
    return math.floor(100 * (n - 10) / n), n - 11


def jvm_env():
    # spark.local.dir must win: a SPARK_LOCAL_DIRS from the caller's
    # environment would move shuffle files out of the run's temp root.
    return {k: v for k, v in os.environ.items() if k != "SPARK_LOCAL_DIRS"}


def jvm_command(cfg, cp, java_tmp, log_path):
    """The harness JVM with the session's fixed heap; append the mode
    and the plan file."""
    heap = cfg["session"]["heap"]
    # -XX:-UsePerfData: the JVM would otherwise keep a perf-data file in
    # the system temp dir, outside the checkout.
    return (["java", f"-Xms{heap}", f"-Xmx{heap}", "-Xss8m", "-XX:-UsePerfData"] +
            [a for p in ADD_OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")] +
            [f"-Djava.io.tmpdir={java_tmp}", "-Duser.timezone=UTC",
             f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
             f"-Dperfbench.log={log_path}", "-cp", cp, "perfbench.LakeBench"])


def run_jvm(cfg, cp, plan, run_dir, log_path):
    path = os.path.join(run_dir, "plan.json")
    with open(path, "w") as f:
        json.dump(plan, f)
    cmd = jvm_command(cfg, cp, plan["java_tmp"], log_path) + ["run", path]
    proc = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr, env=jvm_env())
    try:
        rc = proc.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        shutil.rmtree(run_dir, ignore_errors=True)
        sys.exit(f"benchmark JVM exceeded {JVM_TIMEOUT_S} s")
    if rc != 0:
        shutil.rmtree(run_dir, ignore_errors=True)
        sys.exit(f"benchmark JVM failed with code {rc}; log: {log_path}")
    with open(plan["out"]) as f:
        return json.load(f)


def measure(name, seed, trace, cfg, tiny=False, corrupt=None):
    """One run of workload `name`: returns (JVM result, plan). Op counts
    are fixed by config.json, so every seed runs the same number of ops."""
    w = cfg["workloads"][name]
    scale = "sf0.001" if tiny else "sf0.1"
    cp = build.build(log=log)
    src = corpus_dir(scale)
    cid = gen.corpus_id(src)
    lake = gen.make_lake(src, os.path.join(CACHE, "lake", f"{scale}-{cid}-s{seed}"), seed)
    prune(os.path.join(CACHE, "lake"), 12)
    session = cfg["session"]
    run_id = f"{name}-s{seed}-t{int(trace)}-{os.getpid()}"
    run_dir = os.path.abspath(os.path.join(TMP, run_id))
    shutil.rmtree(run_dir, ignore_errors=True)
    tmp_root = os.path.join(run_dir, "tmp")
    for d in ("java", "local"):
        os.makedirs(os.path.join(tmp_root, d))
    os.makedirs(os.path.join(OUT, "logs"), exist_ok=True)
    os.makedirs(os.path.join(OUT, "traces"), exist_ok=True)
    plan = {"workload": name, "trace": bool(trace), "lake": os.path.abspath(lake),
            "session": session,
            "tmp_root": tmp_root, "java_tmp": os.path.join(tmp_root, "java"),
            "local_dir": os.path.join(tmp_root, "local"),
            "warehouse_dir": os.path.join(run_dir, "warehouse"),
            "out": os.path.join(run_dir, "result.json"),
            "spans": os.path.abspath(os.path.join(OUT, "traces", run_id + ".spans.json"))}
    if name == "lake_ingest":
        objects = w["landing_objects"]
        landing = gen.make_landing(
            src, os.path.join(CACHE, "landing", f"{scale}-{cid}-o{objects}-s{seed}"),
            seed, objects)
        prune(os.path.join(CACHE, "landing"), 12)
        with open(os.path.join(landing, "manifest.json")) as f:
            manifest = json.load(f)
        plan.update(landing=os.path.abspath(landing), tables=manifest["tables"],
                    staged=os.path.join(run_dir, "staged"),
                    ops=pick_objects(manifest["objects"], w["ops"]))
        if corrupt is not None:
            plan["ops"][corrupt]["rows"] += 1
    else:
        exp = expected(cfg, cp, scale, lake)
        keys = schedule(cfg, name, seed)
        plan["ops"] = [{"key": k, "expect": dict(exp[k])} for k in keys]
        if corrupt is not None:
            plan["ops"][corrupt]["expect"]["digest"] = "0" * 64
    log_path = os.path.abspath(os.path.join(OUT, "logs", run_id + ".log"))
    res = run_jvm(cfg, cp, plan, run_dir, log_path)
    if name == "lake_ingest":
        res["landed_bytes"] = sum(o["bytes"] for o in plan["ops"])
        res["landed_rows"] = sum(o["rows"] for o in plan["ops"])
    shutil.rmtree(run_dir, ignore_errors=True)
    return res, plan


def total(res, k):
    return sum(o["layers"].get(k, 0.0) for o in res["ops"])


def end_to_end(name, res):
    lat = [o["wall_s"] for o in res["ops"]]
    n = len(lat)
    wall = sum(lat)
    pct, idx = tail_rank(n)
    if name == "lake_ingest":
        in_bytes, in_rows = res["landed_bytes"], res["landed_rows"]
        stored = res["staged_bytes"]
    else:
        in_bytes = total(res, "scan.input_bytes")
        in_rows = total(res, "scan.input_rows")
        stored = total(res, "write.output_bytes") + \
            total(res, "exchange.shuffle_write_bytes") + total(res, "exchange.spill_bytes")
    failed = sum(1 for o in res["ops"] if not o["ok"])
    m = {
        "setup_s": sum(res["setup"].values()),
        "op_p50_s": statistics.median(lat),
        "op_tail_s": sorted(lat)[idx],
        "ops_per_s": n / wall,
        "mb_per_s": in_bytes / 1e6 / wall,
        "stored_bytes_per_input_byte": stored / in_bytes if in_bytes else 0.0,
        "rows_per_s": in_rows / wall,
        "ok_ops_ratio": (n - failed) / n,
        "peak_rss_mb": res["peak_rss_mb"],
        "tmp_mb_left": res["tmp_bytes_left"] / 1e6,
    }
    info = {"ops": n, "failed": failed, "failed_ops_ratio": failed / n,
            "tail_percentile": pct, "timed_wall_s": wall}
    return m, info


def per_layer(name, res, cfg):
    ops = res["ops"]
    wall = sum(o["wall_s"] for o in ops)
    keys = [m["name"] for m in cfg["per_layer"]]
    m = {k: total(res, k) for k in keys}
    m["scheduler.no_job_s"] = sum(res["no_job_s"])
    m["scheduler.idle_slot_share"] = 1 - total(res, "task.run_s") / (wall * res["cores"])
    m["storage.cached_bytes"] = res["storage"]["cached_bytes_peak"]
    m["storage.persisted_rdds"] = res["storage"]["persisted_rdds"]
    for phase in ("analysis", "optimization", "planning"):
        m[f"plans.{phase}_ms"] = sum(o["plans"].get(phase, 0.0) for o in ops)
    m["streaming.outside_trigger_s"] = sum(
        o["wall_s"] - o["layers"].get("streaming.trigger_s", 0.0)
        for o in ops if o["layers"].get("streaming.batches", 0) > 0)
    m.update({k: v for k, v in res["functions"].items() if v is not None})
    return {k: m.get(k, 0.0) for k in keys}


def self_times(spans):
    """Self time per span name: duration less the part its children
    cover. A span's parent is the shortest span of the same op, one
    level up (op > harness call > micro-batch > Spark job), that
    contains its start."""
    def level(s):
        return {"op": 0, "streaming.trigger": 2, "scheduler.job": 3}.get(s["name"], 1)
    for s in spans:
        up = [p for p in spans if p["op"] == s["op"] and level(p) < level(s)
              and p["start_ms"] <= s["start_ms"] <= p["end_ms"]]
        s["parent"] = min(up, key=lambda p: p["end_ms"] - p["start_ms"], default=None)
    out = {}
    for s in spans:
        kids = sorted((c["start_ms"], c["end_ms"]) for c in spans if c["parent"] is s)
        covered, end = 0, -math.inf
        for a, b in kids:
            a = max(a, s["start_ms"], end)
            b = min(b, s["end_ms"])
            if b > a:
                covered += b - a
                end = b
        out[s["name"]] = out.get(s["name"], 0.0) + (s["end_ms"] - s["start_ms"] - covered) / 1e3
    return out


def report(name, seed, trace, cfg, res, plan, save=True):
    unit = {m["name"]: m["unit"] for m in cfg["end_to_end"] + cfg["per_layer"]}
    e2e, info = end_to_end(name, res)
    print(f"workload {name} seed {seed} trace {trace}: {info['ops']} ops, "
          f"{info['failed']} failed, timed wall {info['timed_wall_s']:.3f} s, "
          f"op_tail_s is p{info['tail_percentile']}")
    for o in res["ops"]:
        if not o["ok"]:
            print(f"  FAILED op {o['id']} {o['name']}: {o['error']}")
    print(f"  failed_ops_ratio = {info['failed_ops_ratio']:.4f} ratio")
    for k, v in e2e.items():
        print(f"  {k} = {v:.6g} {unit[k]}")
    record = {"workload": name, "seed": seed, "trace": trace, "time": time.time(),
              "end_to_end": e2e, "info": info,
              "setup": res["setup"],
              "ops": [[o["name"], o["wall_s"], o["ok"]] for o in res["ops"]]}
    if trace:
        layers = per_layer(name, res, cfg)
        for k, v in layers.items():
            print(f"  {k} = {v:.6g} {unit[k]}")
        with open(plan["spans"]) as f:
            spans = json.load(f)
        selft = self_times(spans)
        print("  self time by layer: " + ", ".join(
            f"{k} {v:.3f} s" for k, v in sorted(selft.items(), key=lambda x: -x[1])))
        base = latest_untraced(name, seed)
        if base:
            print(f"  tracing overhead vs untraced seed {base['seed']} run:")
            for k, v in e2e.items():
                b = base["end_to_end"].get(k)
                if b:
                    print(f"    {k}: traced {v:.6g} - untraced {b:.6g} = {v - b:+.6g} "
                          f"{unit[k]} ({(v - b) / b:+.1%} of untraced)")
        else:
            print("  tracing overhead: no untraced run of this workload to compare with")
        record.update(per_layer=layers, self_time_s=selft, spans=plan["spans"])
    if save:
        os.makedirs(os.path.join(OUT, "runs"), exist_ok=True)
        with open(os.path.join(OUT, "runs", f"{name}-s{seed}-t{trace}-{int(time.time() * 1000)}.json"),
                  "w") as f:
            json.dump(record, f, indent=1)
    metrics = layers if trace else e2e
    return {"correct": info["failed"] == 0, "attempted": info["ops"], "failed": info["failed"],
            "metrics": {k: {"value": v, "unit": unit[k]} for k, v in metrics.items()}}


def latest_untraced(name, seed):
    d = os.path.join(OUT, "runs")
    if not os.path.isdir(d):
        return None
    runs = []
    for f in os.listdir(d):
        if f.startswith(name + "-") and "-t0-" in f:
            with open(os.path.join(d, f)) as fh:
                runs.append(json.load(fh))
    same = [r for r in runs if r["seed"] == seed]
    pool = same or runs
    return max(pool, key=lambda r: r["time"]) if pool else None


def check_layout():
    for p in ("BENCHMARK.json", "build.sbt", "src/main/scala"):
        if not os.path.exists(p):
            sys.exit(f"run from a checkout of the repository: {p} is missing")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    # Op counts are fixed (config.json) and sized so a run's timed wall
    # is about BENCHMARK.json's run_seconds; --seconds does not change them.
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    check_layout()
    cfg = load_config()
    if a.selftest:
        import selftest
        sys.exit(selftest.main(cfg))
    if a.workload not in cfg["workloads"]:
        sys.exit(f"unknown workload {a.workload!r}; have {sorted(cfg['workloads'])}")
    if a.seconds not in (None, cfg["run_seconds"]):
        log(f"note: op counts are fixed and sized for {cfg['run_seconds']} s; "
            f"--seconds {a.seconds} does not change them")
    res, plan = measure(a.workload, a.seed, a.trace, cfg)
    print(json.dumps(report(a.workload, a.seed, a.trace, cfg, res, plan)))


if __name__ == "__main__":
    main()
