#!/usr/bin/env python3
"""Per-task breakdown of one traced `etl_incremental` pass.

    python3 scripts/etl_tasks.py benchmark/results/c4/etl_incremental.jsonl [PASS]
    python3 scripts/etl_tasks.py CHANGE.jsonl [PASS] --against PARENT.jsonl

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

`--against OTHER.jsonl` compares the pass with the same pass of OTHER's
last traced record (two copies of the program, say, each run with the
same seed): for each task, op ms, catalog mutations, cat ms and tail ms
of OTHER, then of the file, then the difference (file minus OTHER), and
the same for the pass totals.
"""
import argparse
import json

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


def load(path, wanted):
    """The pass asked for from the last traced record of `path`, its
    tasks and its totals."""
    record = last_traced(path)
    records = record["records"]
    pas = pick_pass(records, wanted)
    rows = tasks(records, pas)
    ops = sorted(t["op_ms"] for t in rows)
    catalog = {}
    for t in rows:
        for k, v in t["catalog"].items():
            catalog[k] = catalog.get(k, 0) + v
    totals = {
        "op_median": ops[len(ops) // 2] if ops else 0.0,
        "op_sum": sum(ops),
        "jobs": sum(t["jobs"] for t in rows),
        "job_ms": sum(t["job_ms"] for t in rows),
        "catalog": catalog,
        "catalog_ms": sum(t["catalog_ms"] for t in rows),
        "tail_ms": sum(t["tail_ms"] for t in rows if t["tail_ms"] is not None),
        "commands": sum(1 for r in records if r["kind"] == "qe"
                        and r.get("pass") == pas["pass"] and r["command"]),
    }
    return record, pas, rows, totals


def mutations(catalog):
    return " ".join(f"{k}{v}" for k, v in sorted(catalog.items())) or "-"


def header(record, pas):
    env = record.get("env", {})
    return (f"pass {pas['pass']} ({pas['phase']}, window {pas.get('start_dt')}), "
            f"{pas['wall_ns'] / 1e6:.0f} ms wall; seed {env.get('seed')}, "
            f"{env.get('cpus')} cpus, commit {env.get('commit')}")


def show(record, pas, rows, totals):
    print(header(record, pas))
    print(f"{'task':<22} {'op_ms':>8} {'jobs':>4} {'job_ms':>7} {'catalog':<18} "
          f"{'cat_ms':>7} {'tail_ms':>7}  steps")
    for t in rows:
        tail = f"{t['tail_ms']:.0f}" if t["tail_ms"] is not None else "-"
        steps = " ".join(f"{s}:{ms:.0f}" for s, ms, _ in t["steps"])
        flag = "" if t["status"] == "succeeded" else f"  [{t['status']}]"
        print(f"{t['name']:<22} {t['op_ms']:>8.1f} {t['jobs']:>4} {t['job_ms']:>7.0f} "
              f"{mutations(t['catalog']):<18} {t['catalog_ms']:>7.1f} {tail:>7}  {steps}{flag}")
    print(f"{len(rows)} tasks: op median {totals['op_median']:.1f} ms, "
          f"sum {totals['op_sum']:.0f} ms; jobs {totals['jobs']} "
          f"({totals['job_ms']:.0f} ms); catalog {mutations(totals['catalog'])} "
          f"({totals['catalog_ms']:.0f} ms); tail {totals['tail_ms']:.0f} ms; "
          f"SQL commands {totals['commands']}")


def pair(a, b):
    """`a b (b-a)` at 1 decimal; a dash for a missing value."""
    cell = lambda v: f"{v:.1f}" if v is not None else "-"
    diff = f"({b - a:+.1f})" if a is not None and b is not None else ""
    return f"{cell(a):>7} {cell(b):>7} {diff:>9}"


def compare(against, other, this):
    """Per task and in total: OTHER's value, this file's, the difference."""
    (orec, opas, orows, otot), (rec, pas, rows, tot) = other, this
    print(f"against {against}: {header(orec, opas)}")
    print(f"file:    {header(rec, pas)}")
    print(f"{'task':<22} {'op_ms':^25} {'catalog':<47} {'cat_ms':^25} {'tail_ms':^25}")
    theirs = {t["name"]: t for t in orows}
    mine = {t["name"]: t for t in rows}
    names = list(theirs) + [n for n in mine if n not in theirs]
    for name in names:
        a, b = theirs.get(name), mine.get(name)
        get = lambda t, k: t[k] if t is not None else None
        cat = f"{mutations(a['catalog']) if a else '?'} -> {mutations(b['catalog']) if b else '?'}"
        print(f"{name:<22} {pair(get(a, 'op_ms'), get(b, 'op_ms'))} {cat:<47} "
              f"{pair(get(a, 'catalog_ms'), get(b, 'catalog_ms'))} "
              f"{pair(get(a, 'tail_ms'), get(b, 'tail_ms'))}")
    print(f"op median {pair(otot['op_median'], tot['op_median'])} ms; "
          f"op sum {pair(otot['op_sum'], tot['op_sum'])} ms")
    print(f"catalog {mutations(otot['catalog'])} -> {mutations(tot['catalog'])}; "
          f"cat_ms {pair(otot['catalog_ms'], tot['catalog_ms'])}; "
          f"tail ms {pair(otot['tail_ms'], tot['tail_ms'])}")
    print(f"jobs {otot['jobs']} -> {tot['jobs']}; "
          f"SQL commands {otot['commands']} -> {tot['commands']}")


def main():
    ap = argparse.ArgumentParser(
        description="Per-task breakdown of one traced etl_incremental pass.")
    ap.add_argument("results", help="benchmark/results/c<cpus>/etl_incremental.jsonl")
    ap.add_argument("pass_", metavar="PASS", nargs="?", type=int,
                    help="pass number (default: the first traced timed pass)")
    ap.add_argument("--against", metavar="OTHER.jsonl",
                    help="compare with the same pass of OTHER's last traced record")
    args = ap.parse_args()
    this = load(args.results, args.pass_)
    if args.against is None:
        show(*this)
    else:
        compare(args.against, load(args.against, this[1]["pass"]), this)


if __name__ == "__main__":
    main()
