"""Self-tests of the benchmark harness.

    python3 -m unittest discover -s perfbench/tests

The listener test builds the driver and runs perfbench.SelfTest in a JVM.
"""
import filecmp
import os
import random
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import build  # noqa: E402
import run  # noqa: E402
from harness import gen, stats, truth  # noqa: E402


def scratch():
    """A temporary directory inside the checkout's build directory."""
    os.makedirs(build.BUILD, exist_ok=True)
    return tempfile.TemporaryDirectory(dir=build.BUILD)


class TailTest(unittest.TestCase):
    def test_leaves_at_least_ten_samples_beyond(self):
        rng = random.Random(7)
        for n in (11, 12, 37, 100, 999):
            xs = [rng.expovariate(1.0) for _ in range(n)]
            value, pct, count = stats.tail(xs)
            self.assertEqual(count, n)
            self.assertEqual(sum(1 for x in xs if x > value), 10)
            self.assertAlmostEqual(pct, 100.0 * (n - 10) / n)

    def test_ties_still_leave_ten_beyond(self):
        xs = [1.0] * 50 + [2.0] * 10
        value, _, _ = stats.tail(xs)
        self.assertEqual(value, 1.0)


class SelfTimeTest(unittest.TestCase):
    @staticmethod
    def random_tree(rng, spans, parent, start, end, depth):
        sid = len(spans)
        spans.append({"id": sid, "parent": parent, "name": f"l{depth}", "start": start, "end": end})
        t = start
        while depth < 4 and t < end and rng.random() < 0.7:
            a = rng.randint(t, end)
            b = rng.randint(a, end)
            SelfTimeTest.random_tree(rng, spans, sid, a, b, depth + 1)
            t = b
        return spans

    def test_self_time_never_exceeds_its_span(self):
        rng = random.Random(3)
        for _ in range(200):
            spans = self.random_tree(rng, [], -1, 0, rng.randint(1, 10_000), 0)
            own = stats.self_times(spans)
            for s in spans:
                self.assertGreaterEqual(own[s["id"]], 0)
                self.assertLessEqual(own[s["id"]], s["end"] - s["start"])
            # self times of one request add up to the request's duration
            self.assertEqual(sum(own.values()), spans[0]["end"] - spans[0]["start"])


class SeedTest(unittest.TestCase):
    @staticmethod
    def generate(workload, seed, d):
        gen.generate(workload, seed, d)
        return sorted(os.listdir(d))

    @staticmethod
    def ground_truth(workload, d):
        if workload == "lookup":
            return truth.lookup_truth(d, range(60))
        if workload == "ann":
            nn = truth.Neighbours(d)
            return [nn.distances(m, q).round(9).tolist()[:50] for m in ("l2", "ip", "cosine") for q in range(5)]
        with open(os.path.join(d, "truth.json")) as fh:
            return fh.read()

    def test_same_seed_same_inputs_and_truth(self):
        for workload in gen.GENERATORS:
            with scratch() as t:
                a, b, c = (os.path.join(t, x) for x in "abc")
                files = self.generate(workload, 5, a)
                self.assertEqual(files, self.generate(workload, 5, b))
                _, mismatch, errors = filecmp.cmpfiles(a, b, files, shallow=False)
                self.assertEqual((mismatch, errors), ([], []), workload)
                self.assertEqual(self.ground_truth(workload, a), self.ground_truth(workload, b))
                self.generate(workload, 6, c)
                _, mismatch, _ = filecmp.cmpfiles(a, c, files, shallow=False)
                self.assertEqual(sorted(mismatch), files, workload)
                self.assertNotEqual(self.ground_truth(workload, a), self.ground_truth(workload, c))


class ListenerTest(unittest.TestCase):
    def test_attribution_with_two_overlapping_jobs(self):
        build.build()
        with scratch() as t:
            cmd = ["java", "-Xmx1g", f"-Djava.io.tmpdir={t}", f"-Dspark.local.dir={t}"]
            for p in run.ADD_OPENS:
                cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
            res = subprocess.run(cmd + ["-cp", build.classpath(), "perfbench.SelfTest"],
                                 capture_output=True, text=True, timeout=300, cwd=t)
        self.assertEqual(res.returncode, 0, res.stdout[-3000:] + res.stderr[-3000:])
        self.assertIn("selftest ok", res.stdout)


if __name__ == "__main__":
    unittest.main()
