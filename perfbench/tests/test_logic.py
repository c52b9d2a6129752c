"""Tests of the benchmark's own logic (no JVM, no Spark).

    python3 -m unittest discover -s perfbench/tests
"""

import os
import socket
import sys
import threading
import time
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import loadgen  # noqa: E402
import oracle  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402
import workloads  # noqa: E402


class FakeEndpoint:
    """A one-connection-at-a-time HTTP endpoint on loopback. `behaviour`
    is called with the accepted socket after the request was read."""

    def __init__(self, behaviour, accept_delay=0.0):
        self.behaviour, self.accept_delay = behaviour, accept_delay
        self.sock = socket.socket()
        self.sock.bind(("127.0.0.1", 0))
        self.sock.listen(8)
        self.port = self.sock.getsockname()[1]
        self.stop = False
        self.thread = threading.Thread(target=self.serve, daemon=True)
        self.thread.start()

    def serve(self):
        while not self.stop:
            time.sleep(self.accept_delay)
            try:
                conn, _ = self.sock.accept()
            except OSError:
                return
            with conn:
                data = b""
                while b"\r\n\r\n" not in data:
                    chunk = conn.recv(65536)
                    if not chunk:
                        break
                    data += chunk
                head, _, body = data.partition(b"\r\n\r\n")
                length = next((int(h.split(b":")[1]) for h in head.split(b"\r\n")
                               if h.lower().startswith(b"content-length")), 0)
                while len(body) < length:
                    body += conn.recv(65536)
                self.behaviour(conn)

    def close(self):
        self.stop = True
        self.sock.close()


def ok_response(conn, payload=b'{"metadata": {"timeMs": 1}, "columns": [], "records": []}'):
    conn.sendall(b"HTTP/1.1 200 OK\r\nContent-Type: application/json\r\n"
                 b"Connection: close\r\nContent-Length: " + str(len(payload)).encode()
                 + b"\r\n\r\n" + payload)


def request():
    return workloads.Request("c", "SELECT 1", "SELECT 1", 1)


class PercentileRule(unittest.TestCase):
    def test_highest_percentile_with_ten_samples_beyond(self):
        self.assertEqual(stats.tail_percentile(100), 90)
        self.assertEqual(stats.tail_percentile(50), 80)
        self.assertEqual(stats.tail_percentile(1000), 99)
        self.assertIsNone(stats.tail_percentile(19))

    def test_ten_samples_lie_beyond_the_reported_percentile(self):
        for n in (20, 35, 99, 100, 101, 250):
            values = list(range(n))
            p = stats.tail_percentile(n)
            cut = stats.percentile(values, p)
            self.assertGreaterEqual(sum(v > cut for v in values), 10, n)

    def test_p90_needs_a_hundred_samples(self):
        self.assertFalse(stats.p90_available(99))
        self.assertTrue(stats.p90_available(100))

    def test_nearest_rank(self):
        self.assertEqual(stats.percentile([5, 1, 3, 2, 4], 50), 3)
        self.assertEqual(stats.percentile(list(range(1, 101)), 90), 90)


class DueTimeAccounting(unittest.TestCase):
    def test_a_stalled_endpoint_counts_from_the_due_time(self):
        ep = FakeEndpoint(ok_response, accept_delay=0.3)
        try:
            a = loadgen.Client(ep.port).send(request())
        finally:
            ep.close()
        self.assertTrue(a.responded)
        self.assertGreaterEqual(a.latency_ms, 300.0)

    def test_latency_includes_time_already_waited_before_sending(self):
        ep = FakeEndpoint(ok_response)
        try:
            client = loadgen.Client(ep.port)
            due = client.clock() - 0.5
            a = client.send(request(), due=due)
        finally:
            ep.close()
        self.assertGreaterEqual(a.latency_ms, 500.0)

    def test_closed_loop_sends_whole_rounds_back_to_back(self):
        def slow(conn):
            time.sleep(0.05)
            ok_response(conn)
        ep = FakeEndpoint(slow)
        try:
            client = loadgen.Client(ep.port)
            rounds = ([request(), request()] for _ in range(100))
            attempts, round_s = loadgen.closed_loop(client, rounds, 0.3)
        finally:
            ep.close()
        self.assertEqual(len(attempts), 2 * len(round_s))
        for prev, nxt in zip(attempts, attempts[1:]):
            self.assertGreaterEqual(nxt.due, prev.end)
            self.assertGreaterEqual(nxt.latency_ms, 50.0)


class NoResponse(unittest.TestCase):
    def test_a_connection_closed_without_response_is_a_failure(self):
        ep = FakeEndpoint(lambda conn: time.sleep(0.1))
        try:
            a = loadgen.Client(ep.port).send(request())
        finally:
            ep.close()
        self.assertFalse(a.responded)
        self.assertGreaterEqual(a.latency_ms, 100.0)
        body, why = run.check_attempt(None, a)
        self.assertIsNone(body)
        self.assertTrue(why.startswith("no response"))

    def test_in_band_errors_and_oracle_mismatches_are_failures(self):
        class Orc:
            def answer(self, sql):
                return ["x"], [[1]]
        a = loadgen.Attempt(request(), 0.0, 0.0)
        a.status, a.end = 200, 0.1
        a.body = b'{"errorMessage": "boom"}'
        self.assertIn("in-band error", run.check_attempt(Orc(), a)[1])
        a.body = b'{"metadata": {}, "columns": ["x"], "records": [{"x": 2}]}'
        self.assertIn("oracle mismatch", run.check_attempt(Orc(), a)[1])
        a.body = b'{"metadata": {}, "columns": ["x"], "records": [{"x": 1}]}'
        self.assertIsNone(run.check_attempt(Orc(), a)[1])


class Seeds(unittest.TestCase):
    def take(self, seed, n=5):
        rounds = workloads.export_rounds(seed)
        return [(r.cls, r.sql, r.limit) for _ in range(n) for r in next(rounds)]

    def test_same_seed_same_requests(self):
        self.assertEqual(self.take(7), self.take(7))

    def test_other_seed_other_requests(self):
        self.assertNotEqual(self.take(7), self.take(8))

    def test_every_round_sends_every_class_once(self):
        rounds = workloads.export_rounds(3)
        names = sorted(c[0] for c in workloads.EXPORT_CLASSES)
        for _ in range(10):
            self.assertEqual(sorted(r.cls for r in next(rounds)), names)


class Canonical(unittest.TestCase):
    def test_timestamp_spellings_agree(self):
        import datetime
        want = oracle.canon(datetime.datetime(2024, 1, 2, 3, 4, 5))
        for got in ("2024-01-02 03:04:05", "2024-01-02T03:04:05Z",
                    "2024-01-02 03:04:05.000000"):
            self.assertEqual(oracle.canon(got), want)

    def test_epoch_millis_do_not_pass_for_timestamps(self):
        import datetime
        want = [[1, [datetime.datetime(2024, 1, 2)]]]
        self.assertIsNotNone(oracle.compare(
            ["a", "b"], [[oracle.canon(v) for v in r] for r in want],
            ["a", "b"], [[1, [1704153600000]]], ordered=True))

    def test_a_leaked_row_object_does_not_pass_for_a_struct(self):
        want = [[oracle.canon({"a": 1, "b": "x"})]]
        leaked = [[{"values": [1, "x"], "schema": {"fields": []}}]]
        self.assertIsNotNone(oracle.compare(["s"], want, ["s"], leaked, ordered=True))
        self.assertIsNone(oracle.compare(["s"], want, ["s"], [[{"a": 1, "b": "x"}]],
                                         ordered=True))

    def test_intervals_compare_as_seconds(self):
        import datetime
        want = oracle.canon(datetime.timedelta(days=3))
        for got in (259200, "P3D", "PT72H", "INTERVAL '3' DAY"):
            self.assertTrue(oracle.same(want, oracle.canon(got)), got)

    def test_unordered_results_compare_as_multisets(self):
        self.assertIsNone(oracle.compare(["a"], [[1], [2]], ["a"], [[2], [1]], ordered=False))
        self.assertIsNotNone(oracle.compare(["a"], [[1], [2]], ["a"], [[2], [2]],
                                            ordered=False))


class OwnedEntries(unittest.TestCase):
    def test_java_string_hash(self):
        # Integer.toHexString(s.hashCode) as the JVM prints it, one of
        # them for a negative hash
        self.assertEqual(run.java_string_hash_hex("abc"), "17862")
        self.assertEqual(run.java_string_hash_hex("input/sf0.1"), "b040443b")


if __name__ == "__main__":
    unittest.main()
