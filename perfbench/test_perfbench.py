"""Tests for the benchmark's own code: python3 -m unittest discover perfbench"""
import datetime as dt
import json
import os
import re
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import loggen  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402

# LogParser.LogPattern, in Python's regex dialect (the same grammar)
LOG_PATTERN = re.compile(
    r'^(\S+)\s+\S+\s+\S+\s+\[([^\]]+)\]\s+"(\S+)\s+(\S+)\s+([^"]+)"\s+(\d{3})\s+'
    r'(\d+|-)\s+"[^"]*"\s+"([^"]*)"$')
DAYS = [(dt.date(2025, 3, 1), 3000), (dt.date(2025, 3, 2), 1234)]


def parses(line):
    """True when LogParser keeps the line: it matches the grammar and its
    timestamp is a real date and time."""
    m = LOG_PATTERN.match(line.strip())
    if not m:
        return False
    try:
        dt.datetime.strptime(m.group(2).split(" ")[0], "%d/%b/%Y:%H:%M:%S")
    except ValueError:
        return False
    return True


class GeneratorTest(unittest.TestCase):
    def test_same_seed_same_bytes(self):
        a, _ = loggen.render(7, DAYS)
        b, _ = loggen.render(7, DAYS)
        self.assertEqual(a.encode(), b.encode())

    def test_other_seed_other_bytes(self):
        a, _ = loggen.render(7, DAYS)
        b, _ = loggen.render(8, DAYS)
        self.assertNotEqual(a, b)

    def test_malformed_share_is_exact(self):
        text, tally = loggen.render(3, DAYS)
        lines = text.split("\n")[:-1]
        self.assertEqual(len(lines), sum(n for _, n in DAYS))
        want_bad = sum(round(n * loggen.MALFORMED_SHARE) for _, n in DAYS)
        kept = sum(parses(ln) for ln in lines)
        self.assertEqual(tally.malformed, want_bad)
        self.assertEqual(len(lines) - kept, want_bad)
        self.assertEqual(kept, tally.valid)

    def test_every_malformed_kind_occurs(self):
        text, _ = loggen.render(3, DAYS)
        lines = text.split("\n")
        self.assertIn("", lines)
        self.assertTrue(any(ln.startswith("GARBAGE ") for ln in lines))
        self.assertTrue(any(" 12x4 " in ln for ln in lines))
        self.assertTrue(any("[30/Feb/" in ln for ln in lines))

    def test_tally_matches_lines(self):
        text, tally = loggen.render(5, DAYS)
        per_date = {}
        for ln in text.split("\n"):
            if parses(ln):
                d = dt.datetime.strptime(LOG_PATTERN.match(ln).group(2).split(" ")[0],
                                         "%d/%b/%Y:%H:%M:%S").date().isoformat()
                per_date[d] = per_date.get(d, 0) + 1
        self.assertEqual(per_date, {d: v[0] for d, v in tally.per_date().items()})

    def test_exact_percentile_interpolates_like_spark(self):
        self.assertAlmostEqual(loggen.exact_percentile([0, 1234], 0.95), 1172.3)
        self.assertEqual(loggen.exact_percentile([5], 0.95), 5.0)


class PercentileTest(unittest.TestCase):
    def test_known_values(self):
        xs = list(range(1, 11))
        self.assertEqual(stats.percentile(xs, 50), 5.5)
        self.assertAlmostEqual(stats.percentile(xs, 90), 9.1)
        self.assertEqual(stats.percentile(xs, 100), 10)
        self.assertEqual(stats.percentile([4.0], 99), 4.0)
        self.assertEqual(stats.median([3, 1, 2]), 2)

    def test_tail_needs_ten_samples_beyond(self):
        self.assertEqual(stats.tail(list(range(5))), (100.0, 4))
        self.assertEqual(stats.tail(list(range(19)))[0], 100.0)
        self.assertEqual(stats.tail(list(range(20)))[0], 50.0)
        self.assertEqual(stats.tail(list(range(39)))[0], 50.0)
        self.assertEqual(stats.tail(list(range(40)))[0], 75.0)
        self.assertEqual(stats.tail(list(range(100)))[0], 90.0)
        self.assertEqual(stats.tail(list(range(200)))[0], 95.0)
        self.assertEqual(stats.tail(list(range(999)))[0], 95.0)
        self.assertEqual(stats.tail(list(range(1000)))[0], 99.0)
        q, v = stats.tail(list(range(1000)))
        self.assertAlmostEqual(v, stats.percentile(list(range(1000)), 99.0))


class MetricNameTest(unittest.TestCase):
    NAME = re.compile(r"^[A-Za-z0-9_.-]+$")

    def test_metric_names(self):
        with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
            bench = json.load(f)
        names = [m["name"] for m in bench["end_to_end"] + bench["per_layer"]]
        names += [w["name"] for w in bench["workloads"]]
        names += list(run.PER_LAYER) + list(run.END_TO_END_UNITS)
        for n in names:
            self.assertRegex(n, self.NAME)
        self.assertEqual([m["name"] for m in bench["per_layer"]], list(run.PER_LAYER))
        self.assertEqual(sorted(m["name"] for m in bench["end_to_end"]),
                         sorted(run.END_TO_END_UNITS))


if __name__ == "__main__":
    unittest.main()
