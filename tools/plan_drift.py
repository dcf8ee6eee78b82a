#!/usr/bin/env python3
"""Round-over-round differ for PLAN_SHAPES_r{N}.json (r11 verdict #6).

drift_check watches bench TIME; this watches plan STRUCTURE — the
leading indicator. A refactor or Spark upgrade that inserts an
Exchange, downgrades a broadcast join to a shuffle join, or loses a
pushed filter anywhere in the registry fails here BEFORE it shows up
as an unexplained bench blip (and when a bench blip does show, the
ledger answers "did the plan change?" mechanically).

Rules per query present in both records:
  FAIL  shuffles grew
  FAIL  broadcast joins shrank while shuffle-side joins grew
        (broadcast -> SMJ/SHJ/cartesian downgrade)
  FAIL  a relation scanned in both records lost pushed filters: the
        fewest or the most filters on any of its scans went down
        (per-relation counts, `pushed_by_relation`). A scan that is
        only dropped or reused is not a loss.
  FAIL  pushed_filters (the query total) shrank -- only when a record
        has no per-relation counts; a warning says so
  WARN  wholestage_spans shrank (codegen coverage lost)
  info  shuffles shrank / broadcasts grew (improvements)
New, removed, or errored queries are informational: coverage is
CORRECTNESS' job, this tool only guards structure.

Usage: python3 tools/plan_drift.py OLD.json NEW.json
Exit 1 on any FAIL.
"""
import sys, json

SHUFFLE_JOINS = ("SortMergeJoinExec", "ShuffledHashJoinExec",
                 "CartesianProductExec")


def pushed_filter_losses(name, o, n, warns):
    """FAIL lines for filters that stopped reaching a scan of `name`."""
    if "pushed_by_relation" not in o or "pushed_by_relation" not in n:
        if n["pushed_filters"] < o["pushed_filters"]:
            warns.append(f"  warn {name}: no per-relation pushed filters in "
                         f"one record, using the query total")
            return [f"  FAIL {name}: pushed_filters "
                    f"{o['pushed_filters']} -> {n['pushed_filters']}"]
        return []
    old_rel, new_rel = o["pushed_by_relation"], n["pushed_by_relation"]
    losses = []
    for rel in sorted(set(old_rel) & set(new_rel)):
        ov, nv = old_rel[rel], new_rel[rel]
        if min(nv) < min(ov) or max(nv) < max(ov):
            losses.append(f"  FAIL {name}: pushed filters on {rel} "
                          f"{ov} -> {nv}")
    return losses


def main(old_path, new_path):
    old = json.load(open(old_path))["queries"]
    new = json.load(open(new_path))["queries"]
    fails, warns, infos = [], [], []
    for name in sorted(set(old) & set(new)):
        o, n = old[name], new[name]
        if "err" in o or "err" in n:
            infos.append(f"  info {name}: errored in one record, skipped")
            continue
        if n["shuffles"] > o["shuffles"]:
            fails.append(f"  FAIL {name}: shuffles {o['shuffles']} -> "
                         f"{n['shuffles']}")
        elif n["shuffles"] < o["shuffles"]:
            infos.append(f"  info {name}: shuffles {o['shuffles']} -> "
                         f"{n['shuffles']} (improved)")
        ob = o["joins"].get("BroadcastHashJoinExec", 0) + \
            o["joins"].get("BroadcastNestedLoopJoinExec", 0)
        nb = n["joins"].get("BroadcastHashJoinExec", 0) + \
            n["joins"].get("BroadcastNestedLoopJoinExec", 0)
        os_ = sum(o["joins"].get(j, 0) for j in SHUFFLE_JOINS)
        ns = sum(n["joins"].get(j, 0) for j in SHUFFLE_JOINS)
        if nb < ob and ns > os_:
            fails.append(f"  FAIL {name}: broadcast joins {ob} -> {nb} while "
                         f"shuffle joins {os_} -> {ns} (downgrade)")
        fails.extend(pushed_filter_losses(name, o, n, warns))
        if n["wholestage_spans"] < o["wholestage_spans"]:
            warns.append(f"  warn {name}: wholestage_spans "
                         f"{o['wholestage_spans']} -> {n['wholestage_spans']}")
    for name in sorted(set(new) - set(old)):
        infos.append(f"  info {name}: new query")
    for name in sorted(set(old) - set(new)):
        infos.append(f"  info {name}: removed")
    for line in infos + warns + fails:
        print(line)
    print(f"\n{len(fails)} structural regressions, {len(warns)} warnings, "
          f"{len(infos)} informational")
    return 1 if fails else 0


if __name__ == "__main__":
    if len(sys.argv) != 3:
        print(__doc__)
        sys.exit(2)
    sys.exit(main(sys.argv[1], sys.argv[2]))
