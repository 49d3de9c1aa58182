"""The repository's benchmark: one workload per invocation.

    python3 perfbench/run.py --workload {ingest,corpus} --seed N \
        --seconds S --trace {0,1} [--smoke]

Run from the root of a checkout. It builds the program from source
(build.py), generates the workload's tables from the seed (gen.py), runs
the workload in one JVM (perfbench.PerfBench) with Spark at
local[nproc], checks the outputs (in the JVM, and for `corpus` against
the DuckDB oracle of scripts/check.py), and prints one JSON line:

    {"correct": .., "attempted": .., "failed": .., "metrics": {..}}

With --trace 0 the metrics are BENCHMARK.json's end_to_end metrics;
with --trace 1 they are its per_layer metrics, from a run with the
listeners and layer replays on. Everything else (per-op times, box
shape, spans, check details) goes to .bench_out/. --smoke runs each
piece once at sf0.001, for the benchmark's own test (test_smoke.py).
"""
import argparse
import importlib.util
import json
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

import build  # noqa: E402
import gen  # noqa: E402

# scale factor of the generated tables per workload
SCALE = {"ingest": 0.04, "corpus": 0.01}
SMOKE_SCALE = 0.001
HEAP = "4g"
# the run must end within 180 s; the JVM gets what is left after set-up
DEADLINE_S = 170
JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def nproc():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def run_jvm(cp, args, work, log, timeout):
    cpus = str(nproc())
    env = dict(os.environ, SPARK_GRAFT_CPUS=cpus)
    # would override spark.local.dir, which keeps Spark's scratch in the checkout
    env.pop("SPARK_LOCAL_DIRS", None)
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    # -XX:-UsePerfData: no hsperfdata file outside the checkout
    cmd = [build.java(), f"-Xmx{HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in JDK17_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", os.pathsep.join(cp), "perfbench.PerfBench"] + args
    with open(log, "w") as out:
        proc = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT, env=env,
                                cwd=work)
        try:
            code = proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"workload timed out after {timeout:.0f} s (log: {log})")
    if code != 0:
        tail = Path(log).read_text(errors="replace").splitlines()[-30:]
        fail(f"JVM exited with {code}; log {log}:\n" + "\n".join(tail))
    return {"nproc": nproc(), "spark_graft_cpus": int(cpus), "heap": HEAP}


def oracle_checks(outputs, tables):
    """Compare each kept corpus output with its DuckDB oracle, using the
    repository's own compare (scripts/check.py)."""
    spec = importlib.util.spec_from_file_location("check", ROOT / "scripts" / "check.py")
    check = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(check)
    con = check.duckdb.connect()
    for t in gen.TABLES:
        p = tables / f"{t}.parquet"
        if p.exists():
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    results = []
    for name, o in sorted(outputs.items()):
        try:
            sp = check.fetch(con, f"SELECT * FROM read_parquet('{o['dir']}/*.parquet')")
            du = check.fetch(con, o["oracle"])
            problems = check.compare(*sp, *du)
        except Exception as e:  # a failing oracle query is a failed check
            problems = [f"{type(e).__name__}: {e}"]
        results.append({"name": f"oracle.{name}", "ok": not problems,
                        "detail": "; ".join(problems)[:500] or f"{len(sp[2])} rows match"})
    con.close()
    return results


def row_checks(outputs, op_rows):
    """Each timed op returned as many rows as its kept warm-pass output."""
    import pyarrow.parquet as pq
    results = []
    for name, o in sorted(outputs.items()):
        if name in op_rows:
            n = sum(pq.ParquetFile(p).metadata.num_rows
                    for p in Path(o["dir"]).glob("*.parquet"))
            results.append({"name": f"rows.{name}", "ok": n == op_rows[name],
                            "detail": f"warm pass {n} rows, timed passes {op_rows[name]}"})
    return results


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(SCALE))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--smoke", action="store_true")
    a = ap.parse_args()
    t0 = time.time()

    bench_file = ROOT / "BENCHMARK.json"
    if not bench_file.is_file():
        fail("BENCHMARK.json not found at the checkout root")
    bench = json.loads(bench_file.read_text())
    try:
        cp = build.build()
    except build.BuildError as e:
        fail(f"build failed: {e}")

    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}" + ("-smoke" if a.smoke else "")
    out_dir = ROOT / ".bench_out"
    out_dir.mkdir(exist_ok=True)
    work = ROOT / ".bench_work" / f"{tag}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    try:
        tables = work / "tables"
        sf = SMOKE_SCALE if a.smoke else SCALE[a.workload]
        gen.generate(tables, a.seed, sf)
        result_file = out_dir / f"{tag}.json"
        box = run_jvm(cp, [a.workload, str(a.seed), str(a.seconds), str(a.trace),
                           str(tables), str(work / "jvm"), str(result_file),
                           "smoke" if a.smoke else "full"],
                      work, out_dir / f"{tag}.log", DEADLINE_S - (time.time() - t0))
        r = json.loads(result_file.read_text())
        checks = r["checks"] + oracle_checks(r.get("outputs", {}), tables)
        checks += row_checks(r.get("outputs", {}), r["detail"].get("op_rows", {}))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    wanted = bench["per_layer"] if a.trace else bench["end_to_end"]
    got = r["layers"] if a.trace else r["e2e"]
    missing = [m["name"] for m in wanted if m["name"] not in got]
    if not a.trace and missing:
        fail(f"workload did not report {missing}")
    # a layer this workload does not exercise did no work: it reads 0
    metrics = {m["name"]: {"value": float(got.get(m["name"], 0.0)), "unit": m["unit"]}
               for m in wanted}
    r.update(checks=checks, box=box, scale=sf, not_exercised=missing,
             wall_s=time.time() - t0)
    result_file.write_text(json.dumps(r, indent=1, sort_keys=True))
    bad = [c for c in checks if not c["ok"]]
    for c in bad:
        print(f"perfbench: check {c['name']} failed: {c['detail']}", file=sys.stderr)
    print(json.dumps({"correct": not bad, "attempted": int(r["attempted"]),
                      "failed": int(r["failed"]), "metrics": metrics}))


if __name__ == "__main__":
    main()
