"""Self-tests of tools/plan_counts.py (no JVM needed).

Run from the repository root: python3 -m unittest discover -s tools/tests
"""
import contextlib
import io
import sys
import tempfile
import unittest
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import plan_counts  # noqa: E402


def row(name, exchanges=1, rows=10, jobs="0/4", scan="Scan parquet ",
        batches=None):
    """One row of a `graft.Probe … explain 1` log; `batches` adds the
    `[probe-stream]` lines of a row that ran one stream."""
    plan = [f"(1) {scan}", "(2) HashAggregate [codegen id : 1]"]
    plan += [f"({3 + i}) Exchange" for i in range(exchanges)]
    out = plan + [
        f"[probe] {name} rep1 rows={rows} build=0.10s count=0.20s",
        f"[probe-parts] {name} rep1 build=- count=1 jobs={jobs}",
    ]
    if batches is not None:
        out += [f"[probe-stream] {name} rep1 q=q b={b} rows=5 addBatch=10 | "
                f"flatMapGroupsWithState:rows=3:commit=1ms" for b in range(batches)]
        out.append(f"[probe-stream] {name} rep1 queries=1 batches={batches} "
                   f"addbatch=0.10s overhead=0.05s statecommit=0.01s "
                   f"instances=4 late=0 forks=0")
    return out


class PlanCounts(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()
        self.addCleanup(self.tmp.cleanup)

    def log(self, name, lines):
        path = Path(self.tmp.name) / name
        path.write_text("\n".join(lines) + "\n")
        return str(path)

    def status(self, before, after):
        with contextlib.redirect_stdout(io.StringIO()):
            return plan_counts.main(["plan_counts.py",
                                     self.log("before.log", before),
                                     self.log("after.log", after)])

    def test_identical_logs_pass(self):
        lines = row("q01") + row("q02", exchanges=2)
        self.assertEqual(self.status(lines, lines), 0)

    def test_extra_exchange_fails(self):
        self.assertEqual(self.status(row("q01"), row("q01", exchanges=2)), 1)

    def test_row_count_difference_fails(self):
        self.assertEqual(self.status(row("q01"), row("q01", rows=11)), 1)

    def test_jobs_difference_alone_is_reported_apart(self):
        self.assertEqual(self.status(row("q01"), row("q01", jobs="1/4")), 2)

    def test_stage_dir_suffix_is_normalized(self):
        def scan(suffix):
            return f"BatchScan StateTable [stateCkptLocation=file:/tmp/graft-qstate-{suffix}]"
        self.assertEqual(self.status(row("q01", scan=scan("0f1e2d3c-4b5a")),
                                     row("q01", scan=scan("9a8b7c6d-5e4f"))), 0)

    def test_stage_dir_parent_path_is_normalized(self):
        def scan(parent):
            return ("BatchScan StateTable [stateCkptLocation=file:"
                    f"{parent}/graft-qstate-0f1e2d3c-4b5a/state]")
        self.assertEqual(self.status(row("q01", scan=scan("/tmp/probetmp.dmlc")),
                                     row("q01", scan=scan("/tmp/probetmp.KkMp"))), 0)

    def test_stage_dir_prefix_still_counts(self):
        def scan(prefix):
            return f"BatchScan StateTable [stateCkptLocation=file:/tmp/graft-{prefix}-0f1e2d3c-4b5a]"
        self.assertEqual(self.status(row("q01", scan=scan("qstate")),
                                     row("q01", scan=scan("qstate-b"))), 1)

    def test_identical_batches_pass(self):
        lines = row("q01", batches=5) + row("q02")
        self.assertEqual(self.status(lines, lines), 0)

    def test_batches_difference_alone_is_reported_apart(self):
        self.assertEqual(self.status(row("q01", batches=5),
                                     row("q01", batches=6)), 2)

    def test_empty_logs_fail(self):
        self.assertEqual(self.status([], []), 1)
        self.assertEqual(self.status(row("q01"), []), 1)

    def test_row_without_parts_line_fails(self):
        truncated = row("q01")[:-1]
        self.assertEqual(self.status(truncated, truncated), 1)


if __name__ == "__main__":
    unittest.main()
