"""Self-test of the benchmark, run by ``python3 perfbench/run.py --selftest``.

On inputs derived from the sf0.001 corpus it checks, in a few JVMs:

* every workload runs traced and emits every end-to-end and per-layer
  metric of BENCHMARK.json, each with its unit;
* a corrupted expected answer is counted as exactly one failed op and
  makes the run incorrect;
* the full-plan guard: for every lake_query and llm_corpus op, the
  listener saw exactly one SQL action inside the op's timed window, and
  that action's optimized plan keeps the key's final Sort and all of
  its output columns (a timed ``count()`` fails this: it drops both).
"""
import run


def check_metrics(name, res, plan, cfg):
    problems = []
    for trace, spec in ((0, cfg["end_to_end"]), (1, cfg["per_layer"])):
        out = run.report(name, 0, trace, cfg, res, plan, save=False)
        for m in spec:
            got = out["metrics"].get(m["name"])
            if got is None or got["unit"] != m["unit"] or not isinstance(got["value"], (int, float)):
                problems.append(f"{name}: metric {m['name']} [{m['unit']}] not emitted as {got}")
    return problems, out


def guard(name, res):
    """Full-plan guard over the ops of one run: the one action each op
    timed kept the key's final Sort and all of its columns."""
    plans = [(o, o.get("full_plan", {"ok": False, "final_sort": False})) for o in res["ops"]]
    problems = [f"guard: {name} op {o['id']} {o['name']} did not time a full plan: {p}"
                for o, p in plans if not p["ok"]]
    sorted_ops = sum(1 for _, p in plans if p["final_sort"])
    print(f"guard: {name}: {len(res['ops']) - len(problems)} of {len(res['ops'])} ops timed one "
          f"action that kept all columns and, for the {sorted_ops} sorted ones, the final Sort")
    return problems


def main(cfg):
    problems = []
    for name in cfg["workloads"]:
        corrupt = 0 if name == "lake_query" else None
        res, plan = run.measure(name, 0, 1, cfg, tiny=True, corrupt=corrupt)
        p, out = check_metrics(name, res, plan, cfg)
        problems += p
        if corrupt is None and out["failed"]:
            problems.append(f"{name}: {out['failed']} ops failed on tiny inputs")
        if corrupt is not None and (out["failed"] != 1 or out["correct"]):
            problems.append(f"{name}: corrupted expected answer gave failed={out['failed']}, "
                            f"correct={out['correct']} (want 1, false)")
        print(f"{name}: {out['attempted']} ops, {out['failed']} failed"
              + (" (one corrupted on purpose)" if corrupt is not None else ""))
        if name != "lake_ingest":
            problems += guard(name, res)
    for p in problems:
        print("SELFTEST FAIL " + p)
    print("selftest " + ("failed" if problems else "passed"))
    return 1 if problems else 0
