"""Self-test of the benchmark at tiny size.

    python3 perfbench/selftest.py

Run from the root of a checkout. It

1. runs every workload of BENCHMARK.json untraced and traced, the query
   workloads on sf0.001, and checks the last stdout line: exactly the
   keys ``correct``, ``attempted``, ``failed``, ``metrics``; every
   end-to-end (untraced) or per-layer (traced) metric named, with its
   unit; no failed op;
2. feeds the relational oracle check a deliberately wrong query result
   and checks that it is counted as a failed op;
3. runs the command in a directory holding only BENCHMARK.json and the
   benchmark's files, where it must fail without printing a result.

Exits 0 when every check holds. Takes about five minutes on 4 cores.
"""

from __future__ import annotations

import dataclasses
import json
import os
import shutil
import subprocess
import sys
import tempfile

ROOT = os.getcwd()
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, ROOT]


def tiny_testdata() -> str:
    """sf0.001 beside the engine's default testdata."""
    from dbt_on_snowflake_spark.testdata import DEFAULT_SF_DIR

    return os.path.join(os.path.dirname(DEFAULT_SF_DIR.rstrip("/")), "sf0.001")


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def run_cmd(spec, workload, trace, cwd=ROOT) -> tuple[int, str]:
    tiny = tiny_testdata()
    cmd = spec["command"] + [
        "--workload", workload, "--seed", "7", "--seconds", "1",
        "--trace", str(trace), "--sf-dir", tiny, "--check-sf-dir", tiny,
    ]
    p = subprocess.run(cmd, cwd=cwd, stdout=subprocess.PIPE,
                       stderr=subprocess.DEVNULL, text=True, timeout=600)
    return p.returncode, p.stdout


def check_output(spec, workload, trace) -> list[str]:
    rc, out = run_cmd(spec, workload, trace)
    where = f"{workload} --trace {trace}"
    if rc != 0:
        return [f"{where}: exit code {rc}"]
    result = json.loads(out.strip().splitlines()[-1])
    errors = []
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        errors.append(f"{where}: result keys {sorted(result)}")
    if not result.get("correct") or result.get("failed") != 0:
        errors.append(f"{where}: {result.get('failed')} failed ops")
    if not isinstance(result.get("attempted"), int) or result["attempted"] < 1:
        errors.append(f"{where}: attempted {result.get('attempted')}")
    want = spec["per_layer"] if trace else spec["end_to_end"]
    got = result.get("metrics", {})
    for m in want:
        v = got.get(m["name"])
        if v is None or v.get("unit") != m["unit"] or not isinstance(v.get("value"), (int, float)):
            errors.append(f"{where}: metric {m['name']} missing or malformed: {v}")
    extra = set(got) - {m["name"] for m in want}
    if extra:
        errors.append(f"{where}: metrics not in BENCHMARK.json: {sorted(extra)}")
    return errors


def check_wrong_result_counted() -> list[str]:
    """A relational query whose result loses a row must fail the oracle
    check and count as one failed op."""
    import run as bench

    tiny = tiny_testdata()
    args = bench.parse_args([
        "--workload", "relational", "--seed", "7", "--seconds", "1",
        "--sf-dir", tiny, "--check-sf-dir", tiny,
    ])
    r = bench.Run(args)
    r.isolate()
    try:
        r.start_session()
        wl = bench.Relational(r)
        q = wl.queries["q3_top_revenue_orders"]
        wl.queries[q.name] = dataclasses.replace(
            q, fn=lambda spark, sf: q.fn(spark, sf).limit(9)
        )
        wl.check()
    finally:
        r.stop()
    if (r.attempted, r.failed) != (len(bench.RELATIONAL), 1):
        return [f"wrong result: {r.failed} failed of {r.attempted}, want 1 of "
                f"{len(bench.RELATIONAL)}"]
    return []


def check_bare_directory(spec) -> list[str]:
    """Where only the benchmark's own files exist, the command exits
    non-zero and prints no result."""
    bare = tempfile.mkdtemp(prefix="bare-", dir=os.path.join(ROOT, ".perfbench"))
    try:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        for p in spec["paths"]:
            shutil.copytree(os.path.join(ROOT, p), os.path.join(bare, p),
                            ignore=shutil.ignore_patterns("__pycache__"))
        rc, out = run_cmd(spec, spec["workloads"][0]["name"], 0, cwd=bare)
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    if rc == 0 or '"metrics"' in out:
        return [f"bare directory: exit code {rc}, stdout {out[-200:]!r}"]
    return []


def main() -> int:
    spec = load_spec()
    os.makedirs(os.path.join(ROOT, ".perfbench"), exist_ok=True)
    errors = check_bare_directory(spec)
    for w in spec["workloads"]:
        for trace in (0, 1):
            errors += check_output(spec, w["name"], trace)
    errors += check_wrong_result_counted()
    for e in errors:
        print("FAIL", e)
    print("selftest:", "ok" if not errors else f"{len(errors)} failures")
    return 1 if errors else 0


if __name__ == "__main__":
    sys.exit(main())
