#!/usr/bin/env python3
"""Per-task breakdown of one traced `etl_incremental` pass.

    python3 scripts/etl_tasks.py benchmark/results/c4/etl_incremental.jsonl [PASS]

Reads the last record in the file that was run with `--trace 1` (only
those keep their raw records) and prints, for each task of the pass in
the order it ran:

- op ms: the task's wall time, from `TaskStarted` to `TaskFinished`;
- its steps with their ms (the engine's Tracker steps);
- jobs and job ms: Spark jobs in the task's `graft:<task>` job group,
  summed start to end;
- catalog mutations (create/drop/rename/alter table events) and the ms
  between each one's pre- and post-event;
- tail ms: from the end of the last job that ends within the task's
  last step to that step's end (the task's end when it has no steps),
  the time a write spends after its data is written: commit, catalog
  calls, the swap. Jobs after the last step (standard tests) are not
  part of the write.

PASS defaults to the first traced timed pass; the passes the record
holds are listed when the one asked for is not there. Reads the results
file only.
"""
import json
import sys

CATALOG_OPS = {"CreateTable": "create", "DropTable": "drop",
               "RenameTable": "rename", "AlterTable": "alter"}


def last_traced(path):
    record = None
    with open(path) as f:
        for line in f:
            r = json.loads(line)
            if r.get("records"):
                record = r
    if record is None:
        raise SystemExit(f"{path}: no record run with --trace 1")
    return record


def pick_pass(records, wanted):
    passes = [r for r in records if r["kind"] == "pass"]
    if wanted is None:
        hit = [r for r in passes if r["phase"] == "timed" and r["traced"]]
    else:
        hit = [r for r in passes if r["pass"] == wanted]
    if not hit:
        listing = ", ".join(f"{r['pass']} ({r['phase']}{', traced' if r['traced'] else ''})"
                            for r in passes)
        raise SystemExit(f"pass {wanted} not in the record; passes: {listing}")
    return hit[0]


def tasks(records, pas):
    """One dict per task of the pass, in start order."""
    p = pas["pass"]
    mine = [r for r in records if r.get("pass") == p]
    # the engine's step stamps are wall-clock ms, operation stamps nanoTime
    offset_ms = pas.get("run_call_ms", 0) - pas.get("run_call_ns", 0) / 1e6
    out = {}
    for o in sorted((r for r in mine if r["kind"] == "op"), key=lambda o: o["t0_ns"]):
        out[o["name"]] = {"name": o["name"], "status": o["status"],
                          "op_ms": (o["t1_ns"] - o["t0_ns"]) / 1e6,
                          "end_ms": o["t1_ns"] / 1e6 + offset_ms,
                          "steps": [], "jobs": 0, "job_ms": 0.0, "job_ends": [],
                          "catalog": {}, "catalog_ms": 0.0}
    group = {f"graft:{name}": t for name, t in out.items()}

    open_steps = {}
    for r in mine:
        if r["kind"] == "step_started":
            open_steps[r["task"]] = r
        elif r["kind"] == "step_finished" and r["task"] in open_steps and r["task"] in out:
            s = open_steps.pop(r["task"])
            out[r["task"]]["steps"].append((s["step"], r["ts"] - s["ts"], r["ts"]))

    started = {}
    for r in mine:
        if r["kind"] == "job_start":
            started[r["job"]] = r["ts"]
        elif r["kind"] == "job_end" and r["group"] in group:
            t = group[r["group"]]
            t["jobs"] += 1
            t["job_ms"] += r["ts"] - started.get(r["job"], r["ts"])
            t["job_ends"].append(r["ts"])

    pending = {}
    for r in (r for r in mine if r["kind"] == "catalog"):
        key = (r["thread"], r["op"])
        if r["pre"]:
            pending[key] = r["ns"]
        elif key in pending and r["group"] in group:
            t = group[r["group"]]
            t["catalog_ms"] += (r["ns"] - pending.pop(key)) / 1e6
            if r["op"] in CATALOG_OPS:
                op = CATALOG_OPS[r["op"]]
                t["catalog"][op] = t["catalog"].get(op, 0) + 1

    # jobs after the last step (a table's standard tests) are not its write
    for t in out.values():
        end = max((ts for _, _, ts in t["steps"]), default=t["end_ms"])
        last = max((ts for ts in t["job_ends"] if ts <= end), default=None)
        t["tail_ms"] = end - last if last is not None else None
    return list(out.values())


def main(argv):
    if len(argv) not in (2, 3):
        raise SystemExit(__doc__.strip().split("\n\n")[1])
    record = last_traced(argv[1])
    records = record["records"]
    pas = pick_pass(records, int(argv[2]) if len(argv) == 3 else None)
    rows = tasks(records, pas)
    env = record.get("env", {})
    print(f"pass {pas['pass']} ({pas['phase']}, window {pas.get('start_dt')}), "
          f"{pas['wall_ns'] / 1e6:.0f} ms wall; seed {env.get('seed')}, "
          f"{env.get('cpus')} cpus, commit {env.get('commit')}")
    print(f"{'task':<22} {'op_ms':>8} {'jobs':>4} {'job_ms':>7} {'catalog':<18} "
          f"{'cat_ms':>7} {'tail_ms':>7}  steps")
    for t in rows:
        cat = " ".join(f"{k}{v}" for k, v in sorted(t["catalog"].items())) or "-"
        tail = f"{t['tail_ms']:.0f}" if t["tail_ms"] is not None else "-"
        steps = " ".join(f"{s}:{ms:.0f}" for s, ms, _ in t["steps"])
        flag = "" if t["status"] == "succeeded" else f"  [{t['status']}]"
        print(f"{t['name']:<22} {t['op_ms']:>8.1f} {t['jobs']:>4} {t['job_ms']:>7.0f} "
              f"{cat:<18} {t['catalog_ms']:>7.1f} {tail:>7}  {steps}{flag}")
    ops = sorted(t["op_ms"] for t in rows)
    tails = [t["tail_ms"] for t in rows if t["tail_ms"] is not None]
    total = {}
    for t in rows:
        for k, v in t["catalog"].items():
            total[k] = total.get(k, 0) + v
    commands = sum(1 for r in records
                   if r["kind"] == "qe" and r.get("pass") == pas["pass"] and r["command"])
    print(f"{len(rows)} tasks: op median {ops[len(ops) // 2] if ops else 0:.1f} ms, "
          f"sum {sum(ops):.0f} ms; jobs {sum(t['jobs'] for t in rows)} "
          f"({sum(t['job_ms'] for t in rows):.0f} ms); catalog "
          f"{' '.join(f'{k}{v}' for k, v in sorted(total.items())) or '-'} "
          f"({sum(t['catalog_ms'] for t in rows):.0f} ms); tail {sum(tails):.0f} ms; "
          f"SQL commands {commands}")


if __name__ == "__main__":
    main(sys.argv)
