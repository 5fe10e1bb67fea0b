"""Self-tests of the benchmark at the tiny input size.

    python3 perfbench/selftest.py

Run from the root of a lagespark checkout; takes about seven minutes. Checks:
  * a seed regenerates byte-identical input files, another seed differs;
  * every workload runs, in both trace modes, and prints exactly the
    metrics BENCHMARK.json names, each with its unit; every per-layer
    metric is exercised by at least one workload;
  * a deliberately corrupted reference digest is counted as one failed
    operation (what fail_frac = failed / attempted is made of).
"""

from __future__ import annotations

import copy
import filecmp
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

import inputs  # noqa: E402
import run  # noqa: E402

WORK = os.path.join(ROOT, ".bench_build", "perfbench", "selftest")


def _same_files(a: str, b: str) -> bool:
    cmp = filecmp.dircmp(a, b)
    if cmp.left_only or cmp.right_only:
        return False
    _, mismatch, errors = filecmp.cmpfiles(a, b, cmp.common_files, shallow=False)
    return not mismatch and not errors and all(
        _same_files(os.path.join(a, d), os.path.join(b, d)) for d in cmp.common_dirs
    )


def test_seeded_inputs() -> None:
    for w in run.WORKLOADS:
        inputs.materialize(w, 3, "tiny", f"{WORK}/a/{w}")
        inputs.materialize(w, 3, "tiny", f"{WORK}/b/{w}")
        inputs.materialize(w, 4, "tiny", f"{WORK}/c/{w}")
        assert _same_files(f"{WORK}/a/{w}", f"{WORK}/b/{w}"), f"{w}: seed 3 not reproducible"
        for t in os.listdir(f"{WORK}/a/{w}"):
            assert not _same_files(f"{WORK}/a/{w}/{t}", f"{WORK}/c/{w}/{t}"), (
                f"{w}/{t}: seeds 3 and 4 give the same input")
    print("ok seeded inputs")


def test_metrics_emitted() -> None:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    exercised: set[str] = set()
    for w in run.WORKLOADS:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            p = subprocess.run(
                [sys.executable, os.path.join(HERE, "run.py"), "--workload", w, "--seed", "5",
                 "--seconds", "1", "--trace", str(trace), "--size", "tiny"],
                cwd=ROOT, capture_output=True, text=True, timeout=300, check=True,
            )
            lines = p.stdout.strip().splitlines()
            res = json.loads(lines[-1])
            assert set(res) == {"correct", "attempted", "failed", "metrics"}, res
            assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1, p.stderr
            want = {m["name"]: m["unit"] for m in spec[key]}
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            assert got == want, f"{w} trace={trace}: {set(got) ^ set(want)}"
            if trace:
                skipped = json.loads(lines[-2].split(" ", 1)[1])
                exercised |= set(got) - set(skipped)
            print(f"ok {w} trace={trace}")
    unused = {m["name"] for m in spec["per_layer"]} - exercised
    assert not unused, f"per-layer metrics no workload exercises: {sorted(unused)}"


def test_corrupted_digest_fails() -> None:
    import spans
    import workloads

    spark = run._start_spark(f"{WORK}/spark")
    try:
        tr = spans.Tracer()
        for w, path in (("spatial-join", ("overlay", "n")),
                        ("pipeline", ("tiling", "zones", "h"))):
            inp = inputs.materialize(w, 6, "tiny", f"{WORK}/in/{w}")
            bad = copy.deepcopy(inp["ref"])
            node = bad
            for k in path[:-1]:
                node = node[k]
            node[path[-1]] += 1
            ops = workloads.ITERATIONS[w](spark, inp, f"{WORK}/out/{w}", tr, bad)
            failed = [name for name, ok, _ in ops if not ok]
            assert len(failed) == 1, f"{w}: corrupted {path} gave failures {failed}"
            print(f"ok {w}: corrupted {'.'.join(path)} counted as 1 of {len(ops)} failed")
    finally:
        run._stop_spark(spark)


def main() -> None:
    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(f"{WORK}/spark/tmp")
    try:
        test_seeded_inputs()
        test_corrupted_digest_fails()
        test_metrics_emitted()
    finally:
        shutil.rmtree(WORK, ignore_errors=True)
    print("selftest passed")


if __name__ == "__main__":
    main()
