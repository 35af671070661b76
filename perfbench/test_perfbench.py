"""Self-tests of the benchmark: python3 perfbench/test_perfbench.py

The wire test decodes bytes encoded by graft.protocol.Wire itself, so it
builds the program first (as a benchmark run does); the seed test runs
the tsql_ingest workload twice at --seconds 2.
"""
import hashlib
import os
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402
import wire  # noqa: E402


class TailRule(unittest.TestCase):
    def test_at_least_ten_beyond(self):
        for n in (11, 20, 37, 100, 1000):
            values = list(range(1, n + 1))
            value, level, beyond, count = stats.tail(values)
            self.assertEqual(sum(1 for v in values if v > value), 10)
            self.assertEqual((beyond, count), (10, n))
            self.assertAlmostEqual(level, 100.0 * (n - 10) / n)

    def test_highest_such_level(self):
        # one rank higher would leave only 9 samples beyond
        value, _, _, _ = stats.tail(list(range(100)))
        self.assertEqual(value, 89)

    def test_too_few_samples_fall_back_to_median(self):
        value, level, beyond, n = stats.tail([5, 1, 3, 2, 4])
        self.assertEqual((value, level, beyond, n), (3, 50.0, 2, 5))

    def test_order_does_not_matter(self):
        values = [((i * 7919) % 101) / 3 for i in range(101)]
        self.assertEqual(stats.tail(values), stats.tail(sorted(values)))


class WireClient(unittest.TestCase):
    """Responses encoded by graft.protocol.Wire (perfbench.Harness wire)."""

    @classmethod
    def setUpClass(cls):
        launch = run.build()
        cls.dir = tempfile.mkdtemp(dir=run.BUILD)
        cmd = (["java"] + launch.opts + ["-XX:-UsePerfData", f"-Djava.io.tmpdir={cls.dir}",
                                         "-cp", launch.cp, "perfbench.Harness", "wire", cls.dir])
        subprocess.run(cmd, check=True, stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL)

    def sample(self, name):
        with open(os.path.join(self.dir, name + ".bin"), "rb") as f:
            return f.read()

    def decode_all(self, data):
        resp, used = wire.decode(bytearray(data))
        self.assertEqual(used, len(data))
        return resp

    def test_strings(self):
        ok = self.decode_all(self.sample("str_ok"))
        self.assertEqual((ok.ok, ok.message), (True, "using 'bench'"))
        err = self.decode_all(self.sample("str_err"))
        self.assertEqual((err.ok, err.message), (False, "TsNotFound: timeseries 'x' not found"))

    def test_array_values_match_the_oracle_format(self):
        resp = self.decode_all(self.sample("arr"))
        self.assertEqual(resp.chunks, 0)
        expected = [(1, check.fmt(0.0078125)), (2, check.fmt(-0.0)), (3, check.fmt(123.456789))]
        self.assertEqual(resp.records, expected)
        self.assertEqual([v for _, v in expected], ["0.007812", "-0.000000", "123.456789"])
        self.assertEqual(self.decode_all(self.sample("arr_empty")).records, [])

    def test_stream_chunks(self):
        resp = self.decode_all(self.sample("stream"))
        self.assertEqual(resp.chunks, 2)
        self.assertEqual(len(resp.records), 1003)
        self.assertEqual(resp.records[1002],
                         (1704067200000000000 + 1002, check.fmt(1002 * 0.25 - 3)))

    def test_standalone_terminator_and_every_split(self):
        data = self.sample("stream")
        self.assertTrue(data.endswith(b"\r\n~0\r\n"))
        whole = self.decode_all(data)
        for cut in list(range(len(data) - 12, len(data))) + [1, 100, len(data) // 2]:
            buf = bytearray(data[:cut])
            with self.assertRaises(wire.Incomplete):
                wire.decode(buf)
            buf += data[cut:]
            resp, used = wire.decode(buf)
            self.assertEqual((resp.records, used), (whole.records, len(data)))

    def test_two_responses_back_to_back(self):
        data = self.sample("stream") + self.sample("str_ok")
        first, used = wire.decode(bytearray(data))
        second, used2 = wire.decode(bytearray(data), used)
        self.assertEqual((len(first.records), second.message, used2), (1003, "using 'bench'", len(data)))


class MeanRounding(unittest.TestCase):
    """round(<double mean>, 4) of the avg and SAMPLE BY oracles."""

    def test_double_below_half_way_rounds_down(self):
        # 6692.19 / 120 = 55.76825 exactly, but the double quotient lies below it
        mean = 6692.19 / 120
        self.assertEqual(repr(mean), "55.768249999999995")
        self.assertEqual(check.round4(mean), 55.7682)
        # DuckDB's round scales the double by 10^4 in binary and lands on .5
        db = check.duckdb.connect()
        self.assertEqual(db.execute("SELECT round(?::DOUBLE, 4)", [mean]).fetchone()[0], 55.7683)

    def test_half_way_text_rounds_up(self):
        # the text is the shortest that reads back as the same double, as
        # Java's Double.toString gives it; its binary value may lie below
        self.assertEqual(check.round4(0.03125), 0.0313)
        self.assertEqual(check.round4(-2.00005), -2.0001)
        mean = (346 * 1234.57) / 16
        self.assertEqual(repr(mean), "26697.57625")
        self.assertEqual(check.round4(mean), 26697.5763)


class MissingLayers(unittest.TestCase):
    """A layer that was not measured fails the run instead of reading 0."""

    def test_entry_point_that_matched_nothing(self):
        spans = {name: 1 for name in run.REQUIRED_SPANS["batch_fleet"]}
        run.check_instrumented("batch_fleet", spans)
        with self.assertRaises(run.BenchError):
            run.check_instrumented("batch_fleet", dict(spans, **{"queries.build": 0}))
        with self.assertRaises(run.BenchError):
            run.check_instrumented("tsql_read", {"tsql.parse": 1})

    def test_only_not_applicable_metrics_may_be_absent(self):
        wanted = [("catalog.resolve_ms", "ms"), ("queries.build_s", "s")]
        got = run.pick_metrics("batch_fleet", True, wanted, {"queries.build_s": 0.5})
        self.assertEqual(got["catalog.resolve_ms"], {"value": 0.0, "unit": "ms"})
        with self.assertRaises(run.BenchError):
            run.pick_metrics("batch_fleet", True, wanted, {"catalog.resolve_ms": 1.0})
        with self.assertRaises(run.BenchError):
            run.pick_metrics("tsql_read", True, wanted, {"queries.build_s": 0.5})
        with self.assertRaises(run.BenchError):
            run.pick_metrics("batch_fleet", False, [("latency_ms", "ms")], {})


class Seeds(unittest.TestCase):
    def test_statement_streams(self):
        for seed in (1, 2):
            self.assertEqual(gen.read_stream(seed, 0, 50, gen.DAY), gen.read_stream(seed, 0, 50, gen.DAY))
            self.assertEqual(gen.ingest_stream(seed, 1, 30), gen.ingest_stream(seed, 1, 30))
        self.assertNotEqual(gen.read_stream(1, 0, 50, gen.DAY), gen.read_stream(2, 0, 50, gen.DAY))
        self.assertNotEqual(gen.read_stream(1, 0, 50, gen.DAY), gen.read_stream(1, 1, 50, gen.DAY))

    def test_inputs_fit_the_frame(self):
        for kind, sql, _ in gen.ingest_stream(3, 1, 200) + gen.read_stream(3, 0, 200, 30 * gen.DAY):
            wire.encode_request(sql)  # raises past the 512-byte frame

    def test_events_and_fixture_bytes(self):
        a, b = gen.events(5, 2 * gen.DAY), gen.events(5, 2 * gen.DAY)
        self.assertTrue((a[0] == b[0]).all() and (a[1] == b[1]).all())
        self.assertEqual(len(gen.events(5)[0]), gen.EVENTS_POINTS)

        def digest(d):
            return {f: hashlib.sha256(open(os.path.join(d, f), "rb").read()).hexdigest()
                    for f in sorted(os.listdir(d))}
        with tempfile.TemporaryDirectory() as x, tempfile.TemporaryDirectory() as y:
            gen.fleet_fixture(5, x)
            gen.fleet_fixture(5, y)
            self.assertEqual(digest(x), digest(y))

    def test_stored_bytes_repeat(self):
        """Same seed, same stored bytes per user byte (two ingest runs)."""
        launch = run.build()
        got = []
        for _ in range(2):
            with tempfile.TemporaryDirectory(dir=run.BUILD) as d:
                report, attempted, failed, _ = run.run_ingest(launch, d, 7, 2, False)
                self.assertEqual(failed, 0)
                got.append((report["stored_bytes_per_user_byte"], report["acked_points"]))
        self.assertEqual(got[0], got[1])


if __name__ == "__main__":
    unittest.main()
