#!/usr/bin/env python3
"""Derive the key sets of lake_query and llm_corpus by a fixed rule.

Usage (from the repository root):
  python3 perfbench/pick_keys.py            # measure what is missing, then pick
  python3 perfbench/pick_keys.py --no-measure

It times every candidate key once, warm and collected in full, on the
seed-1 sf0.1 lake, with the harness the benchmark runs (chunks of keys
per JVM, traced), and keeps the measurements in
``.bench_out/key_walls.json``. Then it applies the rule:

* a key is eligible if its DuckDB twin runs over the lake (no fixture
  files outside it), its op passes its check, and it writes no files;
* a family is the key's first name token (``tpch``, ``scan``, ``agg``,
  ``join``, ``win``, ``set``, ``sort``) for lake_query, and the token
  after ``llm_`` for llm_corpus; every family with at least three
  eligible keys contributes its fastest key, the family's fixed-cost
  floor, so that each workload's timed wall stays near run_seconds;
* the keys the benchmark names for a layer are added if they pass
  their check: ``q_flagship``
  and ``stream_window_tumbling`` (the streaming layer) to lake_query,
  and ``llm_graph_hits``, ``llm_pagerank``, ``llm_ann_lsh``,
  ``llm_mmr_diversify`` and ``llm_embedding_pca`` to llm_corpus if
  they take at most NAMED_CAP_S.

It prints the per-family table and the two key lists for config.json.
"""
import json
import os
import re
import statistics
import sys

import build
import gen
import run

WALLS = os.path.join(run.OUT, "key_walls.json")
CHUNK = 12
NAMED_CAP_S = 3.0
FAMILY = {"lake_query": re.compile(r"^(tpch|scan|agg|join|win|set|sort)_"),
          "llm_corpus": re.compile(r"^llm_([a-z]+)_")}
NAMED = {"lake_query": ["q_flagship", "stream_window_tumbling"],
         "llm_corpus": ["llm_graph_hits", "llm_pagerank", "llm_ann_lsh",
                        "llm_mmr_diversify", "llm_embedding_pca"]}


def candidates():
    keys = set()
    for path in build.sources():
        with open(path) as f:
            keys |= set(re.findall(r'"([a-z][a-z0-9_]*)"\s*->', f.read()))
    return sorted({k for k in keys if any(p.match(k) for p in FAMILY.values())} |
                  {k for w in NAMED.values() for k in w})


def measure(keys, walls, cfg):
    cp = build.build(log=run.log)
    sqls = run.oracle_sql(cp, keys)
    src = run.corpus_dir("sf0.1")
    cid = gen.corpus_id(src)
    lake = gen.make_lake(src, os.path.join(run.CACHE, "lake", f"sf0.1-{cid}-s1"), 1)
    cache = os.path.join(run.CACHE, "expected", f"sf0.1-{cid}.json")
    todo = []
    for k in keys:
        if k not in sqls:
            walls[k] = {"ok": False, "why": "no DuckDB twin"}
            continue
        try:
            gen.expected_answers(lake, cid, {k: sqls[k]}, cache, log=run.log)
            todo.append(k)
        except Exception as e:  # a twin that reads fixtures outside the lake
            walls[k] = {"ok": False, "why": f"no DuckDB answer over the lake: {e}"[:200]}
    run.JVM_TIMEOUT_S = 900
    for i in range(0, len(todo), CHUNK):
        cfg["workloads"] = {"pick": {"passes": 1, "keys": todo[i:i + CHUNK]}}
        res, _ = run.measure("pick", 1, 1, cfg)
        for o in res["ops"]:
            walls[o["name"]] = {"wall_s": o["wall_s"], "ok": o["ok"], "why": o["error"],
                                "writes": o["layers"].get("write.output_bytes", 0)}
        with open(WALLS, "w") as f:
            json.dump(walls, f, indent=1, sort_keys=True)
        run.log(f"[pick] measured {min(i + CHUNK, len(todo))} of {len(todo)} keys")


def pick(walls):
    out = {}
    for w, pat in FAMILY.items():
        fams = {}
        for k, m in walls.items():
            if pat.match(k) and m["ok"] and not m["writes"]:
                fams.setdefault(pat.match(k).group(1), []).append(k)
        keys = []
        print(f"{w}: family, eligible keys, fastest key, its warm wall, family median")
        for fam, ks in sorted(fams.items()):
            if len(ks) >= 3:
                k = min(ks, key=lambda k: (walls[k]["wall_s"], k))
                keys.append(k)
                med = statistics.median(walls[k]["wall_s"] for k in ks)
                print(f"  {fam:<14} {len(ks):>3}  {k:<32} {walls[k]['wall_s']:.3f} s  {med:.3f} s")
        for k in NAMED[w]:
            m = walls.get(k, {})
            cap = NAMED_CAP_S if w == "llm_corpus" else float("inf")
            if m.get("ok") and m["wall_s"] <= cap and k not in keys:
                keys.append(k)
            print(f"  named {k:<32} {m.get('wall_s', float('nan')):.3f} s"
                  f"{'' if k in keys else ' (left out)'}")
        print(f"  timed wall of one pass: {sum(walls[k]['wall_s'] for k in keys):.2f} s")
        out[w] = keys
    return out


def main():
    os.chdir(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    run.check_layout()
    cfg = run.load_config()
    walls = {}
    if os.path.exists(WALLS):
        with open(WALLS) as f:
            walls = json.load(f)
    missing = [k for k in candidates() if k not in walls]
    if missing and "--no-measure" not in sys.argv:
        os.makedirs(run.OUT, exist_ok=True)
        measure(missing, walls, cfg)
    print(json.dumps(pick(walls), indent=2))


if __name__ == "__main__":
    main()
