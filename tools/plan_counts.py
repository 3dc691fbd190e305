#!/usr/bin/env python3
"""Compare two `graft.Probe <rows> <sfDir> explain <reps>` logs row by row.

Usage: python3 tools/plan_counts.py BEFORE.log AFTER.log

For every query row (and rep) it prints the physical-operator counts of the
row's formatted plan, the `rows=` value of its `[probe]` line, the
`jobs=<build>/<count>` value of its `[probe-parts]` line and, for a row that
runs streams, the `batches=` value of its `[probe-stream] … queries=…`
summary line, marking what differs between the two logs. Operator counts are
taken from the numbered node headers of `explain("formatted")`
(`(12) HashAggregate [codegen id : 3]` counts one `HashAggregate`). A
staging directory named in a node label, `<parent path>/graft-<prefix>-<suffix>`,
has its parent path and random suffix replaced by fixed tokens first, so two
runs of the same plan count the same operator even under different temp
roots (`stream_queryable_state` scans `…/graft-qstate-<suffix>`).

Exit status: 0 when every row is identical; 1 when a row's operator counts
or row count differ, a row is missing from one log, a log holds no `[probe]`
row at all, or a `[probe]` row has no `[probe-parts]` line (a crashed or
truncated Probe run); 2 when only `jobs=` or `batches=` differ. Both are
reported apart because they are not always reproducible: when AQE
propagates an empty relation, the number of shuffle-stage jobs a row
submits can vary from run to run with the same physical plan, and a socket
source's micro-batch count depends on how its lines arrive.
"""
import collections
import re
import sys

NODE = re.compile(r"^\((\d+)\) (.+?)(?: \[codegen id : \d+\])?\s*$")
PROBE = re.compile(r"^\[probe\] (\S+) rep(\d+) rows=(\d+) ")
PARTS = re.compile(r"^\[probe-parts\] (\S+) rep(\d+) .* jobs=(\S+)\s*$")
STREAM = re.compile(r"^\[probe-stream\] (\S+) rep(\d+) queries=\d+ batches=(\d+) ")
# a staging directory: its parent path and the random suffix
# `StagingFs.newStageDir` gives it
STAGE_DIR = re.compile(
    r"(?:[^\s=\[\],]*/)?(graft-[\w-]+?)-[0-9a-f]{8}-[0-9a-f]{4}(?![0-9A-Za-z])")


def parse(path):
    """{(row, rep): {"ops": Counter, "rows": str, "jobs": str,
    "batches": str or None}} in log order."""
    rows = collections.OrderedDict()
    ops = collections.Counter()
    with open(path, errors="replace") as f:
        for line in f:
            m = NODE.match(line)
            if m:
                ops[STAGE_DIR.sub(r"*/\1-*", m.group(2))] += 1
                continue
            m = PROBE.match(line)
            if m:
                rows[(m.group(1), m.group(2))] = {
                    "ops": ops, "rows": m.group(3), "jobs": None,
                    "batches": None}
                ops = collections.Counter()
                continue
            for pattern, field in ((PARTS, "jobs"), (STREAM, "batches")):
                m = pattern.match(line)
                if m and (m.group(1), m.group(2)) in rows:
                    rows[(m.group(1), m.group(2))][field] = m.group(3)
    return rows


def ops_text(ops):
    return " ".join(f"{k}={v}" for k, v in sorted(ops.items())) or "-"


def main(argv):
    if len(argv) != 3:
        print(__doc__.strip().splitlines()[2], file=sys.stderr)
        return 64
    before, after = parse(argv[1]), parse(argv[2])
    broken = []
    for path, rows in ((argv[1], before), (argv[2], after)):
        if not rows:
            broken.append(f"{path}: no [probe] row")
        broken += [f"{path}: {name} rep{rep}: no [probe-parts] line"
                   for (name, rep), row in rows.items() if row["jobs"] is None]
    for line in broken:
        print(line)
    keys = list(before) + [k for k in after if k not in before]
    plan_diffs, job_diffs, batch_diffs = [], [], []
    for key in keys:
        name = f"{key[0]} rep{key[1]}"
        a, b = before.get(key), after.get(key)
        if a is None or b is None:
            print(f"{name}: only in {'after' if a is None else 'before'}")
            plan_diffs.append(name)
            continue
        same_ops, same_rows = a["ops"] == b["ops"], a["rows"] == b["rows"]
        same_jobs = a["jobs"] == b["jobs"]
        same_batches = a["batches"] == b["batches"]
        print(f"{name}: ops={sum(a['ops'].values())}"
              f"{'' if same_ops else '->' + str(sum(b['ops'].values()))}"
              f" rows={a['rows']}{'' if same_rows else '->' + b['rows']}"
              f" jobs={a['jobs']}{'' if same_jobs else '->' + str(b['jobs'])}"
              + ("" if a["batches"] is None and same_batches else
                 f" batches={a['batches']}"
                 f"{'' if same_batches else '->' + str(b['batches'])}"))
        if not same_ops:
            print(f"  before: {ops_text(a['ops'] - b['ops'])}")
            print(f"  after:  {ops_text(b['ops'] - a['ops'])}")
        if not (same_ops and same_rows):
            plan_diffs.append(name)
        else:
            if not same_jobs:
                job_diffs.append(name)
            if not same_batches:
                batch_diffs.append(name)
    print(f"{len(keys)} rows; operator/row-count differences: "
          f"{len(plan_diffs)} {' '.join(plan_diffs)}".rstrip())
    print(f"jobs= differences only: {len(job_diffs)} "
          f"{' '.join(job_diffs)}".rstrip())
    print(f"batches= differences only: {len(batch_diffs)} "
          f"{' '.join(batch_diffs)}".rstrip())
    return 1 if plan_diffs or broken else 2 if job_diffs or batch_diffs else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
