"""The benchmark's own test: every workload once at sf0.001, and the
refusal to run without the program's sources.

    python3 perfbench/test_smoke.py

Each smoke run takes under a minute once the build exists.
"""
import json
import shutil
import subprocess
import sys
import unittest
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BENCH = json.loads((ROOT / "BENCHMARK.json").read_text())


def run(workload, trace, cwd=ROOT, script=ROOT / "perfbench" / "run.py"):
    return subprocess.run(
        [sys.executable, str(script), "--workload", workload, "--seed", "7",
         "--seconds", "2", "--trace", str(trace), "--smoke"],
        cwd=cwd, capture_output=True, text=True, timeout=300)


class Smoke(unittest.TestCase):

    def check_line(self, r, metrics):
        self.assertEqual(r.returncode, 0, r.stderr[-3000:])
        line = r.stdout.strip().splitlines()[-1]
        res = json.loads(line)
        self.assertEqual(set(res), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(res["correct"], r.stderr[-3000:])
        self.assertGreaterEqual(res["attempted"], 1)
        self.assertEqual(set(res["metrics"]), {m["name"] for m in metrics})
        for m in metrics:
            self.assertEqual(res["metrics"][m["name"]]["unit"], m["unit"])
        return res

    def test_workloads(self):
        for w in BENCH["workloads"]:
            with self.subTest(workload=w["name"]):
                res = self.check_line(run(w["name"], 0), BENCH["end_to_end"])
                self.assertLess(len(json.dumps(res)), 1024)
                for m in res["metrics"].values():
                    self.assertGreater(m["value"], 0)
                # the one known failure: dot_product on array<float>
                self.assertEqual(res["failed"], 1 if w["name"] == "corpus" else 0)

    def test_traced(self):
        self.check_line(run("ingest", 1), BENCH["per_layer"])

    def test_refuses_without_sources(self):
        bare = ROOT / ".bench_work" / "bare"
        shutil.rmtree(bare, ignore_errors=True)
        (bare / "perfbench").mkdir(parents=True)
        shutil.copy(ROOT / "BENCHMARK.json", bare)
        for p in (ROOT / "perfbench").iterdir():
            if p.is_file():
                shutil.copy(p, bare / "perfbench")
        shutil.copytree(ROOT / "perfbench" / "src", bare / "perfbench" / "src")
        try:
            r = run("ingest", 0, cwd=bare, script=bare / "perfbench" / "run.py")
            self.assertNotEqual(r.returncode, 0)
            self.assertEqual(r.stdout.strip(), "")
        finally:
            shutil.rmtree(bare, ignore_errors=True)


if __name__ == "__main__":
    unittest.main()
