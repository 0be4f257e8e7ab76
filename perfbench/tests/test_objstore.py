"""Range semantics of the benchmark's object server, the attribution of
runner stdout chunks to objects, and the runner workload's checks.

    python3 -m unittest discover -s perfbench/tests
"""
import http.client
import io
import os
import shutil
import sys
import tempfile
import unittest

import numpy as np
import pyarrow.parquet as pq

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

import objstore  # noqa: E402
import runner_workload  # noqa: E402


class ParseRangeTest(unittest.TestCase):
    def test_forms(self):
        p = objstore.parse_range
        self.assertEqual(p("bytes=0-9", 100), (0, 9))
        self.assertEqual(p("bytes=90-", 100), (90, 99))
        self.assertEqual(p("bytes=95-200", 100), (95, 99))
        self.assertEqual(p("bytes=-4", 100), (96, 99))
        self.assertEqual(p("bytes=-400", 100), (0, 99))
        self.assertIsNone(p(None, 100))
        self.assertIsNone(p("bytes=0-1,5-6", 100))   # multi-range: whole
        self.assertIsNone(p("items=0-1", 100))
        self.assertIsNone(p("bytes=a-b", 100))
        self.assertEqual(p("bytes=100-", 100), "unsatisfiable")
        self.assertEqual(p("bytes=9-3", 100), "unsatisfiable")
        self.assertEqual(p("bytes=-0", 100), "unsatisfiable")


class ServerTest(unittest.TestCase):
    DELTA = 1_000_000

    @classmethod
    def setUpClass(cls):
        cls.dir = tempfile.mkdtemp()
        rng = np.random.default_rng(3)
        cls.path = os.path.join(cls.dir, "pool.parquet")
        cls.pool = objstore.make_pool_file(cls.path, rng, 4000, 4)
        cls.store = objstore.ObjectStore()
        cls.store.add("a.parquet", cls.pool, 0)
        cls.store.add("b.parquet", cls.pool, cls.DELTA)
        cls.port = cls.store.start()

    @classmethod
    def tearDownClass(cls):
        cls.store.stop()
        shutil.rmtree(cls.dir)

    def request(self, method, name, rng=None):
        c = http.client.HTTPConnection("127.0.0.1", self.port, timeout=10)
        c.request(method, "/" + name,
                  headers={"Range": rng} if rng else {})
        r = c.getresponse()
        body = r.read()
        c.close()
        return r, body

    def test_head_declares_length(self):
        r, body = self.request("HEAD", "a.parquet")
        self.assertEqual(r.status, 200)
        self.assertEqual(int(r.getheader("Content-Length")), self.pool.size)
        self.assertEqual(body, b"")

    def test_bounded_range_is_206(self):
        r, body = self.request("GET", "a.parquet", "bytes=10-19")
        self.assertEqual(r.status, 206)
        self.assertEqual(r.getheader("Content-Range"),
                         f"bytes 10-19/{self.pool.size}")
        self.assertEqual(body, self.pool.data[10:20])

    def test_open_and_suffix_ranges(self):
        r, body = self.request("GET", "a.parquet", "bytes=-8")
        self.assertEqual((r.status, body), (206, self.pool.data[-8:]))
        start = self.pool.size - 100
        r, body = self.request("GET", "a.parquet", f"bytes={start}-")
        self.assertEqual((r.status, body), (206, self.pool.data[start:]))

    def test_unsatisfiable_and_missing(self):
        r, _ = self.request("GET", "a.parquet", f"bytes={self.pool.size}-")
        self.assertEqual(r.status, 416)
        self.assertEqual(r.getheader("Content-Range"),
                         f"bytes */{self.pool.size}")
        r, _ = self.request("GET", "nope.parquet")
        self.assertEqual(r.status, 404)

    def test_no_range_is_whole_object(self):
        r, body = self.request("GET", "a.parquet")
        self.assertEqual((r.status, body), (200, self.pool.data))

    def test_offset_object_is_a_valid_distinct_file(self):
        _, body = self.request("GET", "b.parquet")
        got = pq.read_table(io.BytesIO(body))
        base = pq.read_table(self.path)
        self.assertTrue(np.array_equal(
            got.column("vertex_id").to_numpy(),
            base.column("vertex_id").to_numpy() + self.DELTA))
        for c in ("x", "y", "z", "e", "rho", "p", "material"):
            self.assertTrue(got.column(c).equals(base.column(c)))

    def test_ranges_split_mid_value_stitch_to_the_object(self):
        _, whole = self.request("GET", "b.parquet")
        rng = np.random.default_rng(5)
        cuts = sorted({0, self.pool.size,
                       *rng.integers(1, self.pool.size, 40).tolist()})
        parts = [self.request("GET", "b.parquet", f"bytes={a}-{b - 1}")[1]
                 for a, b in zip(cuts, cuts[1:])]
        self.assertEqual(b"".join(parts), whole)

    def test_log_counts_requests_and_bytes(self):
        self.store.wait_idle()      # earlier tests' requests are logged
        self.store.log.clear()
        self.request("HEAD", "a.parquet")
        self.request("GET", "a.parquet", "bytes=0-99")
        self.request("GET", "b.parquet", "bytes=-10")
        self.store.wait_idle()
        # handlers log when they finish, so a request's entry can land
        # after the next one's: order by start time
        log = sorted(self.store.log, key=lambda e: e[2])
        self.assertEqual([e[1] for e in log], ["HEAD", "GET", "GET"])
        self.assertEqual([e[6] for e in log], [0, 100, 10])
        self.assertEqual([e[7] for e in log], [200, 206, 206])
        self.assertEqual(log[2][4], self.pool.size - 10)


def chunk(t, vids, e):
    n = len(vids)
    rows = [(t, "Chunk - [5 Columns]\n"),
            (t + 0.1, f"- FLAT INTEGER: {n} = [ "
                      + ", ".join(map(str, vids)) + "]\n")]
    for i in range(3):                      # X, Y, Z
        rows.append((t + 0.2 + i, f"- FLAT DOUBLE: {n} = [ "
                     + ", ".join("1.55" for _ in vids) + "]\n"))
    rows.append((t + 0.9, f"- FLAT DOUBLE: {n} = [ "
                 + ", ".join(map(str, e)) + "]\n"))
    return rows


class AttributeChunksTest(unittest.TestCase):
    RANGES = {"a": (0, 99), "b": (100, 199)}

    def test_chunks_go_to_the_object_owning_their_vids(self):
        lines = chunk(1.0, [5, 7], [0.5, 1.5E-4]) + \
            [(3.0, "stray line\n")] + chunk(4.0, [150], [2.0])
        got = objstore.attribute_chunks(lines, self.RANGES)
        self.assertEqual([(n, t) for n, t, _ in got], [("a", 1.9), ("b", 4.9)])
        self.assertEqual(got[0][2][1], (7, 1.55, 1.55, 1.55, 1.5e-4))

    def test_chunk_spanning_objects_is_rejected(self):
        with self.assertRaises(ValueError):
            objstore.attribute_chunks(chunk(1.0, [5, 150], [1, 2]),
                                      self.RANGES)

    def test_vid_outside_every_object_is_rejected(self):
        with self.assertRaises(ValueError):
            objstore.attribute_chunks(chunk(1.0, [500], [1]), self.RANGES)


class RunnerCheckTest(unittest.TestCase):
    """A faulty batch is reported as wrong output or failed objects, not
    as a crash of the summary."""
    STORE = type("Store", (), {"objects": {"a": (None, 0),
                                           "b": (None, 100)}})()
    RANGES = AttributeChunksTest.RANGES
    WANT = {"a": [(5, 1.55, 1.55, 1.55, 0.5)],
            "b": [(150, 1.55, 1.55, 1.55, 2.0)]}

    def batch(self, out, read_bytes=150, rc=0):
        log = [(n, "GET", 0.5 + i, 0.6 + i, 0, 99, 100, 206)
               for i, n in enumerate("ab")]
        return {"rc": rc, "t_launch": 0.0, "out": out, "log": log,
                "stats": {"Total hits": "2", "Total read ops": "2",
                          "Total read bytes": str(read_bytes)},
                "cpu": {"first": 1.0, "last": 3.0}, "spark": None,
                "epoch": 0.0}

    def summarize(self, b):
        return runner_workload.summarize(b, self.STORE, self.RANGES,
                                         self.WANT, 0, "t", None)

    def test_good_batch(self):
        r = self.summarize(self.batch(chunk(1.0, [5], [0.5]) +
                                      chunk(4.0, [150], [2.0])))
        self.assertEqual((r["correct"], r["attempted"], r["failed"]),
                         (True, 2, 0))
        self.assertAlmostEqual(r["metrics"]["setup_s"]["value"], 1.0)
        self.assertAlmostEqual(r["metrics"]["cpu_s_per_op"]["value"], 1.0)

    def test_chunk_spanning_objects_is_wrong_output(self):
        r = self.summarize(self.batch(chunk(1.0, [5, 150], [0.5, 2.0])))
        self.assertEqual((r["correct"], r["failed"], r["metrics"]),
                         (False, 2, {}))

    def test_no_answer_fails_every_object(self):
        r = self.summarize(self.batch([], rc=1))
        self.assertEqual((r["correct"], r["failed"]), (False, 2))

    def test_more_bytes_read_than_sent_is_wrong_output(self):
        r = self.summarize(self.batch(chunk(1.0, [5], [0.5]) +
                                      chunk(4.0, [150], [2.0]),
                                      read_bytes=201))
        self.assertFalse(r["correct"])


if __name__ == "__main__":
    unittest.main()
