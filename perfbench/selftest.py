#!/usr/bin/env python3
"""Tests of the benchmark's own harness. Run from the checkout root:

    python3 perfbench/selftest.py

The first group checks the aggregation conventions on made-up records
and the operator oracle check on a generated table; the last test runs
the Scala harness on Spark with known work, one injected failing
operation and one untagged job, and checks the listener and span
bookkeeping end to end, against Spark's own status store.
"""

import os
import shutil
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen      # noqa: E402
import report   # noqa: E402
import run      # noqa: E402


def op(i, kind, start, end, ok=True, gc=0):
    return {"id": "%s#%d" % (kind, i), "kind": kind, "start_ms": start, "end_ms": end,
            "ok": ok, "gc_ms": gc, "error": None if ok else "boom"}


def span(i, parent, name, start, end):
    return {"id": i, "parent": parent, "op": "", "name": name, "start_ms": start, "end_ms": end}


class Conventions(unittest.TestCase):
    def test_failed_operation_is_counted_and_left_out_of_aggregates(self):
        ops = [op(1, "ingest", 0, 100, gc=5), op(2, "ingest", 100, 300, gc=5),
               op(3, "ingest", 300, 310, ok=False, gc=1000), op(4, "ingest", 310, 610, gc=5),
               op(5, "index_build", 610, 700), op(6, "index_build", 700, 800)]
        rec = {"ops": ops, "setup_ms": 1000.0, "timed_ms": 800.0,
               "facts": {"stored_bytes": 30, "text_bytes": 10}}
        e2e = report.end_to_end("ingest", rec, {"pages": 10})
        self.assertEqual(e2e["failed_frac"]["n"], 6)
        self.assertAlmostEqual(e2e["failed_frac"]["value"], 1 / 6)
        self.assertEqual(e2e["op_p50_ms"]["value"], 200)   # 10 ms failure excluded
        self.assertEqual(e2e["op_p50_ms"]["n"], 3)
        self.assertEqual(report.gc_ms(ops), 15)            # its GC too
        names = [c["name"] for c in report.checks("ingest", dict(rec, facts=dict(
            rec["facts"], rows=[], n_docs=0)), []) if not c["ok"]]
        self.assertIn("operations.no_failures", names)

    def test_self_time_subtracts_the_union_of_children(self):
        spans = [span(1, 0, "root", 0, 100), span(2, 1, "a", 10, 40),
                 span(3, 1, "b", 30, 60), span(4, 3, "c", 35, 38)]
        st = report.self_times(spans)
        self.assertEqual(st, {"root": 50, "a": 30, "b": 27, "c": 3})

    def test_trace_checks_catch_broken_bookkeeping(self):
        zero = {c: 0 for c in report.COUNTERS}
        good = {"totals": dict(zero, jobs=3), "groups": {"x#1": dict(zero, jobs=2),
                                                         "-": dict(zero, jobs=1)},
                "spans": [span(1, 0, "root", 0, 10), span(2, 1, "a", 2, 5)]}
        self.assertTrue(all(c["ok"] for c in report.trace_checks(good)))
        lost = dict(good, groups={"x#1": dict(zero, jobs=2)})
        escaped = dict(good, spans=[span(1, 0, "root", 0, 10), span(2, 1, "a", 5, 12)])
        failed = lambda r: {c["name"] for c in report.trace_checks(r) if not c["ok"]}  # noqa: E731
        self.assertEqual(failed(lost), {"trace.counters_sum_to_totals"})
        self.assertIn("trace.spans_nest", failed(escaped))

    def test_percentile_is_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(report.percentile(xs, 50), 50)
        self.assertEqual(report.percentile(xs, 99), 99)
        self.assertEqual(report.percentile([7], 99), 7)

    def test_generator_is_a_function_of_the_seed(self):
        counts = gen.page_counts(6)
        a = gen.generate(3, counts, 50, tables=True)
        b = gen.generate(3, counts, 50, tables=True)
        c = gen.generate(4, counts, 50, tables=True)
        self.assertEqual(gen.digest(*a[1:]), gen.digest(*b[1:]))
        self.assertNotEqual(gen.digest(*a[1:]), gen.digest(*c[1:]))
        self.assertNotEqual(gen.digest(*a[1:]), gen.digest(a[1], a[2]))
        self.assertEqual(sorted(len(p) for _, _, p in c[1]), sorted(counts))
        docs, vecs = a[3]
        self.assertEqual((len(docs), len(vecs)), (gen.DOCS, gen.VECS))

    def test_operator_rows_are_checked_against_the_oracle(self):
        work = os.path.abspath(os.path.join(run.WORK, "selftest_oracle"))
        shutil.rmtree(work, ignore_errors=True)
        _, _, _, tables = gen.generate(5, gen.page_counts(2), 0, tables=True)
        gen.write_tables(work, *tables)
        sql = "SELECT doc_id FROM documents WHERE lang = 'en'"
        want = sum(1 for d in tables[0] if d[2] == "en")

        def rec(rows, ok=True):
            q = {"name": "qx", "ok": ok, "rows": rows, "oracle_sql": sql}
            return {"ops": [{"kind": "operator", "query": "qx", "error": None if ok else "boom"}],
                    "diagnostics": {"operators": [q]}}
        try:
            verdict = lambda r: [c["ok"] for c in report.operator_checks(  # noqa: E731
                r, os.path.join(work, "tables"))]
            self.assertEqual(verdict(rec(want)), [True])
            self.assertEqual(verdict(rec(want - 1)), [False])
            self.assertEqual(verdict(rec(-1, ok=False)), [False])
        finally:
            shutil.rmtree(work, ignore_errors=True)


class Harness(unittest.TestCase):
    def test_listener_and_spans_on_spark(self):
        classpath = run.build()
        work = os.path.abspath(os.path.join(run.WORK, "selftest"))
        shutil.rmtree(work, ignore_errors=True)
        os.makedirs(work)
        try:
            rec = run.run_harness(classpath, "selftest", work, work, 1, 1)
        finally:
            shutil.rmtree(work, ignore_errors=True)
        # the listener's groups must add up to Spark's status store
        for c in report.trace_checks(rec):
            self.assertTrue(c["ok"], c)
        self.assertGreaterEqual(rec["totals"]["jobs"], 5)
        self.assertGreater(rec["totals"]["task_cpu_ns"], 0)
        # the timed phase ran untraced, then traced; check the traced one
        self.assertEqual(len(rec["ops"]), 8)
        rec = report.view(rec, True)
        ops = rec["ops"]
        bad = [o for o in ops if not o["ok"]]
        self.assertEqual(len(bad), 1)
        self.assertIn("injected failure", bad[0]["error"])
        groups = rec["groups"]
        # the failed operation's job is still attributed to it, and the
        # job outside any operation lands in the untagged group
        self.assertGreaterEqual(groups[bad[0]["id"]]["jobs"], 1)
        self.assertGreaterEqual(groups["-"]["jobs"], 1)
        self.assertGreater(groups[ops[1]["id"]]["shuffle_write_bytes"], 0)
        e2e = report.end_to_end("selftest", rec, {})
        self.assertEqual(e2e["failed_frac"]["n"], 4)
        self.assertEqual(e2e["failed_frac"]["value"], 0.25)
        self.assertEqual(report.gc_ms(ops), sum(o["gc_ms"] for o in ops if o is not bad[0]))
        by_name = {}
        for s in rec["spans"]:
            by_name.setdefault(s["name"], []).append(s)
        parents = {s["id"]: s["name"] for s in rec["spans"]}
        self.assertEqual({parents[s["parent"]] for s in by_name["layer.b"]}, {"layer.a"})
        self.assertEqual(len(by_name["op.probe"]), 4)


if __name__ == "__main__":
    unittest.main(verbosity=2)
