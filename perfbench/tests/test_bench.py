"""Tests of the benchmark's own logic (no Spark needed).

Run from the repository root: python3 -m unittest discover -s perfbench/tests
"""
import hashlib
import os
import socket
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)
import bench  # noqa: E402

DIGEST = ("import hashlib, sys; sys.path.insert(0, %r); import bench; "
          "h = hashlib.sha256(); "
          "[h.update(bench.publish_packet(t, v)) for t, v in bench.%s(7, 5000)]; "
          "print(h.hexdigest())")


def digest_in_fresh_process(kind, hashseed):
    env = dict(os.environ, PYTHONHASHSEED=str(hashseed))
    return subprocess.run([sys.executable, "-c", DIGEST % (BENCH, kind)], env=env,
                          capture_output=True, text=True, check=True).stdout.strip()


class GeneratorIsSeeded(unittest.TestCase):
    def test_byte_identical_across_runs(self):
        for kind in ("steady_messages", "burst_messages"):
            a = digest_in_fresh_process(kind, 1)
            b = digest_in_fresh_process(kind, 2)
            self.assertEqual(a, b, kind)

    def test_seed_changes_the_inputs(self):
        self.assertNotEqual(bench.steady_messages(1, 100), bench.steady_messages(2, 100))
        self.assertNotEqual(bench.burst_messages(1, 100), bench.burst_messages(2, 100))
        self.assertEqual(bench.events_table(3, 50), bench.events_table(3, 50))

    def test_workload_shapes(self):
        steady = bench.steady_messages(1, 20000)
        self.assertLessEqual(len({t for t, _ in steady}), 500)
        self.assertTrue(any(t in bench.EXCLUDE for t, _ in steady))
        burst = bench.burst_messages(1, 50000)
        self.assertGreater(len({t for t, _ in burst}), 2500)
        # each message changes its topic's payload with probability 0.2
        # (plus every topic's first message)
        kept = len(bench.cdc_kept(burst))
        self.assertTrue(0.18 < kept / len(burst) < 0.3, kept / len(burst))

    def test_generator_sends_exactly_the_sequence(self):
        """gen.py over loopback: CONNECT/SUBSCRIBE, then SEND delivers the
        seeded packets byte for byte."""
        g = subprocess.Popen([sys.executable, os.path.join(BENCH, "gen.py"), "steady_upsert_reads",
                              "5", "300"], stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True)
        try:
            port = int(g.stdout.readline().split()[1])
            c = socket.create_connection(("127.0.0.1", port))
            c.sendall(b"\x10\x0c\x00\x04MQTT\x04\x02\x00\x3c\x00\x00")  # CONNECT
            self.assertEqual(c.recv(4), b"\x20\x02\x00\x00")
            c.sendall(b"\x82\x0b\x00\x01\x00\x06tele/#\x00")  # SUBSCRIBE
            self.assertEqual(c.recv(5), b"\x90\x03\x00\x01\x00")
            g.stdin.write("SEND phase=x start=100 count=200 rate=0\n")
            g.stdin.flush()
            reply = g.stdout.readline()
            self.assertTrue(reply.startswith("OK phase=x"), reply)
            want = b"".join(bench.publish_packet(t, v) for t, v in bench.steady_messages(5, 300)[100:300])
            got = b""
            while len(got) < len(want):
                got += c.recv(65536)
            self.assertEqual(got, want)
            c.close()
        finally:
            g.stdin.write("QUIT\n")
            g.stdin.flush()
            g.wait(timeout=10)


class PercentileRule(unittest.TestCase):
    def test_at_least_ten_samples_beyond(self):
        for n in range(1, 3000):
            p = bench.tail_percentile(n)
            if n < 20:
                self.assertIsNone(p, n)
                continue
            values = list(range(n))
            v = bench.pctl(values, p)
            self.assertGreaterEqual(sum(1 for x in values if x > v), 10, (n, p))
            higher = [q for q in bench.PERCENTILES if q > p]
            if higher:  # the next percentile up would keep fewer than ten
                w = bench.pctl(values, min(higher))
                self.assertLess(sum(1 for x in values if x > w), 10, (n, p))

    def test_known_values(self):
        self.assertEqual(bench.tail_percentile(100), 90.0)
        self.assertEqual(bench.tail_percentile(1000), 99.0)
        self.assertEqual(bench.tail_percentile(21), 50.0)
        self.assertEqual(bench.pctl(list(range(1, 101)), 90), 90)
        self.assertEqual(bench.median([3, 1, 2, 10]), 2.5)


class LatencyMapping(unittest.TestCase):
    def test_three_batches(self):
        # positions 0-1 are warm-up; measured positions 2..8 are due every 10 ms
        due = [0, 0] + [1_000_000_000 + k * 10_000_000 for k in range(7)]
        batches = [(0, 3, 1_005_000_000),   # holds warm-up and position 2
                   (3, 6, 1_050_000_000),   # positions 3, 4, 5
                   (6, 8, 1_100_000_000)]   # positions 6, 7; position 8 never commits
        lat = bench.commit_latencies_ms(batches, due, 2, 9)
        self.assertEqual(lat, [5.0, 40.0, 30.0, 20.0, 60.0, 50.0, None])


class ChecksCatchCorruption(unittest.TestCase):
    msgs = [("a", b"1"), ("b", b"1"), ("a", b"1"), ("a", b"2"), ("b", b"1"), ("a", b"1")]

    def test_state_check(self):
        expected = bench.last_values(self.msgs)
        good = [["a", "31"], ["b", "31"]]
        self.assertIsNone(bench.check_state(expected, good))
        self.assertIsNotNone(bench.check_state(expected, [["a", "32"], ["b", "31"]]))
        self.assertIsNotNone(bench.check_state(expected, [["a", "31"]]))
        self.assertIsNotNone(bench.check_state(expected, good + [["a", "31"]]))

    def test_history_check(self):
        kept = bench.cdc_kept(self.msgs)
        self.assertEqual(kept, [0, 1, 3, 5])
        rows = [[str(i), self.msgs[i][0], self.msgs[i][1].hex()] for i in kept]
        self.assertIsNone(bench.check_rows(rows, [list(r) for r in rows], "h"))
        self.assertIsNotNone(bench.check_rows(rows, rows[:-1], "h"))
        corrupt = [list(r) for r in rows]
        corrupt[2][2] = "33"
        self.assertIsNotNone(bench.check_rows(rows, corrupt, "h"))

    def test_query_check(self):
        import pandas as pd
        oracle = pd.DataFrame({"topic": ["a", "b"], "n": [1, 2]})
        self.assertIsNone(bench.frames_differ(oracle[["n", "topic"]].copy(), oracle))
        self.assertIsNotNone(bench.frames_differ(pd.DataFrame({"topic": ["a", "b"], "n": [1, 3]}), oracle))
        self.assertIsNotNone(bench.frames_differ(oracle.iloc[:1], oracle))
        self.assertIsNotNone(bench.frames_differ(pd.DataFrame({"topic": ["a", "b"], "n": [1.0, 2.0]}), oracle))


class StealShare(unittest.TestCase):
    def test_share_of_cpu_time_taken_by_the_hypervisor(self):
        import run
        # /proc/stat order: user nice system idle iowait irq softirq steal ...
        before = [100, 0, 50, 800, 0, 0, 0, 50, 0, 0]
        after = [160, 0, 70, 810, 0, 0, 0, 60, 0, 0]
        self.assertAlmostEqual(run.steal_frac(before, after), 10 / 100)
        self.assertEqual(run.steal_frac(None, after), 0.0)


if __name__ == "__main__":
    unittest.main()
