#!/usr/bin/env python3
"""Diff two graft.Bench records query by query (standard library only).

    python3 tools/benchdiff.py PARENT_BENCH.json CHANGE_BENCH.json [--match PREFIX]

Each input is the BENCH.json that `runMain graft.Bench` writes: per-query
min-of-2 seconds under "queries", per-query {stages, jobs} of the measured
run under "profile", and failed queries under "errors". Record the two
sides interleaved on the same host so host load hits both alike.

Every query present in both records gets one label:

  error         either side failed (or reported a negative time);
  no profile    either side lacks the query's {stages, jobs};
  plan changed  the stage or job count differs — the plan itself moved, so
                the time difference is not noise;
  slower        same plan, and the change is slower by more than the band;
  faster        same plan, and the change is faster by more than the band;
  within noise  same plan, and the difference is inside the band.

The noise band of a query is max(floor * stages, REL * parent seconds).
Most of a small query's time is the per-stage scheduling floor, and that
floor moves with host load, so the band grows with the stage count. The
floor is fitted as the lower quartile of seconds per stage over the
parent's profiled queries (the queries that are nothing but stage
overhead). REL (10%) covers the queries whose time is real work rather
than stages.

Both records must come from the same leg: the core count Bench records as
"cpus" (and the driver heap as "driver_heap_mb"). Records whose "cpus"
differ are refused with exit code 2. A record without "cpus" (written
before Bench recorded it) is diffed with a warning that its leg is unknown.

Prints one row per query and a count per label. Exit code 0.
"""
import argparse
import json
import statistics
import sys

LABELS = ("plan changed", "slower", "faster", "within noise", "error", "no profile")
REL = 0.10


def load(path):
    with open(path) as f:
        return json.loads(f.readline())


def fit_floor(rec):
    """Lower quartile of seconds per stage over the record's profiled,
    successful queries (0.0 when there are none)."""
    per_stage = [rec["queries"][q] / p["stages"]
                 for q, p in rec.get("profile", {}).items()
                 if p.get("stages", 0) > 0 and rec["queries"].get(q, -1) >= 0]
    if not per_stage:
        return 0.0
    if len(per_stage) < 2:
        return per_stage[0]
    return statistics.quantiles(per_stage, n=4)[0]


def classify(name, parent, change, floor):
    """One row dict for a query present in both records."""
    pt, ct = parent["queries"][name], change["queries"][name]
    pp = parent.get("profile", {}).get(name)
    cp = change.get("profile", {}).get(name)
    row = {"query": name, "parent": pt, "change": ct, "pprof": pp, "cprof": cp}
    if pt < 0 or ct < 0 or name in parent.get("errors", {}) or name in change.get("errors", {}):
        row["label"] = "error"
    elif pp is None or cp is None:
        row["label"] = "no profile"
    elif (pp["stages"], pp["jobs"]) != (cp["stages"], cp["jobs"]):
        row["label"] = "plan changed"
    else:
        band = max(floor * pp["stages"], REL * pt)
        delta = ct - pt
        row["label"] = ("slower" if delta > band else
                        "faster" if delta < -band else "within noise")
    return row


def diff(parent, change, floor=None, match=""):
    """Returns (floor used, rows) for the queries both records share; the
    floor is fitted on the parent unless given."""
    if floor is None:
        floor = fit_floor(parent)
    names = sorted(q for q in parent["queries"]
                   if q in change["queries"] and q.startswith(match))
    return floor, [classify(q, parent, change, floor) for q in names]


def leg_check(parent, change):
    """(ok, message) for diffing the two records: not ok when their core
    counts differ, a warning message when either does not record one."""
    pc, cc = parent.get("cpus"), change.get("cpus")
    if pc is None or cc is None:
        return True, "warning: leg unknown (no \"cpus\" in the %s record)" % (
            "parent" if pc is None else "change")
    if pc != cc:
        return False, "refusing to diff different legs: parent cpus=%s, change cpus=%s" % (pc, cc)
    return True, None


def render(floor, rows):
    def prof(p):
        return "-" if p is None else "%d/%d" % (p["stages"], p["jobs"])

    out = ["per-stage floor %.4f s" % floor,
           "%-34s %9s %9s %7s %11s %11s  %s" % (
               "query", "parent_s", "change_s", "ratio", "stages/jobs",
               "-> change", "label")]
    for r in rows:
        ratio = r["change"] / r["parent"] if r["parent"] > 0 and r["change"] >= 0 else float("nan")
        out.append("%-34s %9.3f %9.3f %7.2f %11s %11s  %s" % (
            r["query"], r["parent"], r["change"], ratio,
            prof(r["pprof"]), prof(r["cprof"]), r["label"]))
    counts = {l: sum(1 for r in rows if r["label"] == l) for l in LABELS}
    out.append(", ".join("%s: %d" % (l, n) for l, n in counts.items() if n))
    return "\n".join(out)


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--match", default="", help="only queries with this name prefix")
    a = ap.parse_args(argv)
    parent, change = load(a.parent), load(a.change)
    ok, msg = leg_check(parent, change)
    if msg:
        print(msg, file=sys.stderr)
    if not ok:
        return 2
    floor, rows = diff(parent, change, match=a.match)
    print(render(floor, rows))
    return 0


if __name__ == "__main__":
    sys.exit(main())
