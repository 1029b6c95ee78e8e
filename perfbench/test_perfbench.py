"""Tests of the benchmark's own parts: the seeded generators, the
open-loop load and the percentile picker. They need no JVM.

Run from the repository root: python3 perfbench/test_perfbench.py
"""

import http.server
import os
import sys
import tempfile
import threading
import time
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402
import load  # noqa: E402


class GeneratorTest(unittest.TestCase):

    def test_food_rows_are_deterministic_per_seed(self):
        self.assertEqual(gen.food_messages(7, 300), gen.food_messages(7, 300))
        self.assertNotEqual(gen.food_messages(7, 300), gen.food_messages(8, 300))

    def test_food_rows_have_nulls_absent_keys_and_unique_descriptions(self):
        msgs = gen.food_messages(3, 2000)
        values = [m.get(k, "absent") for m in msgs for k in gen.NUTRIENTS]
        nulls = sum(v is None for v in values) / len(values)
        absent = sum(v == "absent" for v in values) / len(values)
        self.assertAlmostEqual(nulls, gen.NULL_SHARE, delta=0.01)
        self.assertAlmostEqual(absent, gen.ABSENT_SHARE, delta=0.01)
        descs = [m["description"] for m in msgs]
        self.assertEqual(len(set(descs)), len(descs))
        text = " ".join(descs).lower()
        for term in gen.COMMON_ALLERGENS + gen.RARE_ALLERGENS:
            self.assertIn(term, text)

    def test_requests_are_deterministic_and_keep_the_mix(self):
        a = gen.requests(5, 20000, 200)
        self.assertEqual(a, gen.requests(5, 20000, 200))
        self.assertNotEqual(a, gen.requests(6, 20000, 200))
        self.assertEqual(sorted(gen.BLOCK), sorted(gen.ROUTES))
        self.assertEqual(sorted(gen.ROUTES),
                         sorted(gen.SCORE_ROUTES + gen.LOOKUP_ROUTES))
        for route in gen.ROUTES:
            self.assertIn(sum(r[0] == route for r in a), (22, 23))
        for route, _, path, _, k in a:
            if route == "food_details":
                self.assertLess(int(path.rsplit("/", 1)[1]),
                                gen.slice_bound(20000, k))

    def test_registry_tables_are_deterministic_per_seed(self):
        import pyarrow.parquet as pq
        with tempfile.TemporaryDirectory() as d:
            def tables(seed, sub):
                out = os.path.join(d, sub)
                gen.registry_tables(seed, out, lineitems=600)
                return {f: pq.read_table(os.path.join(out, f)).to_pydict()
                        for f in sorted(os.listdir(out))}
            first = tables(1, "a")
            self.assertEqual(len(first), 10)
            self.assertEqual(first, tables(1, "b"))
            self.assertNotEqual(first["lineitem.parquet"],
                                tables(2, "c")["lineitem.parquet"])


class _Handler(http.server.BaseHTTPRequestHandler):
    protocol_version = "HTTP/1.1"

    def do_GET(self):
        if self.path == "/stall":
            time.sleep(0.3)
        self.send_response(200)
        self.send_header("Content-Length", "2")
        self.end_headers()
        self.wfile.write(b"{}")

    def log_message(self, *args):
        pass


class OpenLoopTest(unittest.TestCase):

    def test_latency_counts_from_the_due_time(self):
        server = http.server.ThreadingHTTPServer(("127.0.0.1", 0), _Handler)
        threading.Thread(target=server.serve_forever, daemon=True).start()
        try:
            reqs = [("r", "GET", "/stall", None), ("r", "GET", "/fast", None),
                    ("r", "GET", "/fast", None)]
            start = time.perf_counter() + 0.05
            due = [start, start + 0.01, start + 0.02]
            outs, inflight = load.open_loop(server.server_address[1], reqs,
                                            due, 1, lambda *a: True)
        finally:
            server.shutdown()
            server.server_close()
        self.assertTrue(all(o.ok for o in outs))
        self.assertEqual(inflight, 1)
        # the fast requests queue behind the stall: their latency and
        # lateness both carry it
        for o in outs[1:]:
            self.assertGreaterEqual(o.late, 0.25)
            self.assertGreaterEqual(o.latency, 0.25)
            self.assertLess(o.done - o.sent, 0.2)

    def test_backlog_growth(self):
        def outs(lates):
            return [load.Outcome(None, 0.0, x, x, 200, True) for x in lates]
        self.assertFalse(load.backlog_grew(outs([0.001] * 20)))
        self.assertTrue(load.backlog_grew(outs([i * 0.05 for i in range(20)])))


class PickTest(unittest.TestCase):

    def test_keeps_the_wanted_percentile_with_enough_samples(self):
        p, v, n = load.pick(list(range(1000)), 0.99)
        self.assertEqual((p, v, n), (0.99, 989, 1000))
        self.assertEqual(sum(x > v for x in range(1000)), 10)

    def test_lowers_the_percentile_to_keep_ten_samples_beyond(self):
        values = list(range(100, 0, -1))
        p, v, n = load.pick(values, 0.99)
        self.assertAlmostEqual(p, 0.9)
        self.assertEqual(n, 100)
        self.assertEqual(sum(x > v for x in values), 10)

    def test_falls_back_to_the_median(self):
        p, v, n = load.pick(list(range(15)), 0.99)
        self.assertEqual((p, v, n), (0.5, 7, 15))


if __name__ == "__main__":
    unittest.main()
