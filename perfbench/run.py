"""lagespark benchmark: one workload, one seed, one closed-loop client.

    python3 perfbench/run.py --workload pipeline --seed 1 --seconds 10 --trace 0

Run from the root of a lagespark checkout. One driver process runs Spark
`local[4]`; each iteration starts only after the previous one's result is
complete and checked. Set-up (session start, shipping the package zip to the
Python workers, writing the seeded inputs to parquet, building the Spark-free
reference results) is timed apart from the iterations. The first iteration
of the fresh session is reported as cold_wall_s; the iterations started
within --seconds after it give the steady-state figures.

--trace 0 prints the end-to-end metrics of BENCHMARK.json; --trace 1 prints
its per-layer metrics, from spans around each public call plus the Spark
status REST counters (traced and untraced iterations alternate, and their
median difference is the tracing overhead). Lines before the last are
details: percentiles and sample counts, failures, hardware calibration
before and after, versions. The last line is the result JSON.

Everything the run writes stays under .bench_build/perfbench/ in the
checkout; only a trace run's spans (spans-<workload>-<seed>.json) are kept.
The Spark driver heap defaults to 3g here (LAGESPARK_DRIVER_MEM overrides).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
MASTER = "local[4]"
SETUP_REPEATS = 3
WORKLOADS = ("spatial-join", "pipeline")
WATCHDOG_S = 170
# the tables whose bytes feed the committed stages (bytes_per_input_byte)
SINK_TABLES = ("images", "documents")
COUNTERS = ("jobs", "task_cpu_s", "gc_s", "shuffle_bytes", "py_bytes_out", "py_bytes_in")


def _fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def _summary(values: list[float]) -> dict:
    """Median plus the highest percentile the sample count supports: with
    fewer than ten samples beyond any percentile, that is the maximum."""
    return {"median": statistics.median(values), "max": max(values), "n": len(values)}


def _calibrate() -> float:
    from BENCH.scaling import _cal_worker, calibrate

    # one pass in this process first: the forked workers then inherit its
    # warmed-up state instead of paying it inside their timed second
    _cal_worker((1000, 1e-9))
    return calibrate(os.cpu_count() or 4, n=50_000, seconds=0.5)


def _start_spark(work: str):
    from lagespark.session import get_spark
    from tools.make_pyfiles_zip import build

    conf = {
        "spark.local.dir": f"{work}/spark-local",
        "spark.sql.warehouse.dir": f"{work}/warehouse",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work}/tmp",
        "spark.ui.showConsoleProgress": "false",
    }
    spark = get_spark(MASTER, app_name="lagespark-perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    spark.sparkContext.addPyFile(build(f"{work}/lagespark.zip", ROOT))
    return spark


def _stop_spark(spark) -> None:
    """Stop the context, then the JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def _call_metrics(spans: list[dict]) -> dict:
    """Per-call layer figures of ONE traced iteration."""
    out: dict[str, float] = {}
    for sp in spans:
        name = sp["name"]
        if name == "pipeline.manifest.write_stage":
            out["pipeline.manifest.write_stage_s"] = out.get(
                "pipeline.manifest.write_stage_s", 0.0) + sp["self_s"]
            out["_written_bytes"] = out.get("_written_bytes", 0) + sp["bytes"]
            continue
        key = f"{name}.{sp['kind']}_s"
        out[key] = out.get(key, 0.0) + sp["end"] - sp["start"]
        for c in COUNTERS:
            out[f"{name}.{c}"] = out.get(f"{name}.{c}", 0) + sp[c]
        if "rows" in sp:
            out[f"{name}.rows_out"] = sp["rows"]
        for extra in ("rect_frac", "kernel_frac"):
            if extra in sp:
                out[f"{name}.{extra}"] = sp[extra]
        for stage, sec in sp.get("stage_sec", {}).items():
            out[f"pipeline.corpus.stage_s.{'pack' if stage == 'packs' else stage}"] = sec
    return out


def run(workload: str, seed: int, seconds: float, trace: bool, size: str) -> dict:
    import inputs
    import spans as tracing
    import workloads

    work = os.path.join(ROOT, ".bench_build", "perfbench", f"{workload}-{seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(f"{work}/tmp")
    os.environ["TMPDIR"] = f"{work}/tmp"
    os.environ.setdefault("LAGESPARK_DRIVER_MEM", "3g")
    import tempfile

    tempfile.tempdir = None
    details: dict = {"workload": workload, "seed": seed, "size": size, "nproc": os.cpu_count()}
    details["hw_rows_per_core_sec_before"] = _calibrate()

    t0 = time.perf_counter()
    spark = _start_spark(work)
    session_s = time.perf_counter() - t0
    sampler = None
    try:
        import numpy
        import pyspark

        details["versions"] = {"spark": spark.version, "pyspark": pyspark.__version__,
                               "python": sys.version.split()[0], "numpy": numpy.__version__}
        prep = []
        for _ in range(SETUP_REPEATS):
            t = time.perf_counter()
            inp = inputs.materialize(workload, seed, size, f"{work}/inputs")
            prep.append(time.perf_counter() - t)
        details["session_s"], details["materialize_s"] = session_s, prep

        tr = tracing.Tracer()
        if trace:
            tracing.wrap_write_stage(tr)
        sampler = tracing.RssSampler(spark._jvm.java.lang.ProcessHandle.current().pid())
        fn = workloads.ITERATIONS[workload]
        iters: list[dict] = []
        attempted = failed = 0
        keep = None

        def one(i: int, traced: bool) -> None:
            nonlocal attempted, failed, keep
            out = f"{work}/out/{i}"
            tr.enabled, tr.iteration = traced, i
            sampler.reset()
            t = time.perf_counter()
            try:
                ops = fn(spark, inp, out, tr)
            except Exception:  # noqa: BLE001 - one failed operation, keep measuring
                ops = [(workload, False, traceback.format_exc())]
            wall = time.perf_counter() - t
            tr.enabled = False
            rec = {"i": i, "traced": traced, "wall_s": wall, "rss_mb": sampler.take_mb(),
                   "ops": ops}
            if traced:
                its = [s for s in tr.spans if s["iteration"] == i]
                tracing.attribute(its, tracing.rest_snapshot(spark))
                rec["layers"] = _call_metrics(its)
            iters.append(rec)
            attempted += len(ops)
            failed += sum(not ok for _, ok, _ in ops)
            for name, ok, detail in ops:
                if not ok:
                    print(f"perfbench: iteration {i} {name} FAILED {detail}", file=sys.stderr)
            if keep:
                shutil.rmtree(keep, ignore_errors=True)
            keep = out  # the last output stays for the post-loop probes

        one(0, False)
        deadline = time.perf_counter() + seconds
        i = 1
        while True:
            steady = iters[1:]
            enough = any(not r["traced"] for r in steady) and (
                not trace or any(r["traced"] for r in steady))
            if enough and time.perf_counter() >= deadline:
                break
            one(i, trace and i % 2 == 1)
            i += 1

        plain = [r for r in iters[1:] if not r["traced"]]
        rows = inp["rows"]
        walls = [r["wall_s"] for r in plain]
        e2e = {
            "setup_s": session_s + statistics.median(prep),
            "wall_s": statistics.median(walls),
            "cold_wall_s": iters[0]["wall_s"],
            "rows_per_s": rows / statistics.median(walls),
        }
        details["input_rows"] = rows
        details["e2e"] = {
            "wall_s": _summary(walls),
            "rows_per_s": _summary([rows / w for w in walls]),
            "peak_rss_mb": _summary([r["rss_mb"]["total"] for r in plain]),
            "setup_s": _summary([session_s + p for p in prep]),
            "cold_wall_s": {"median": e2e["cold_wall_s"], "max": e2e["cold_wall_s"], "n": 1},
        }
        layers: dict[str, float] = {}
        if trace:
            traced = [r for r in iters if r["traced"]]
            keys = set().union(*(r["layers"] for r in traced))
            for k in keys:
                layers[k] = statistics.median(r["layers"].get(k, 0) for r in traced)
            written = layers.pop("_written_bytes", None)
            if written is not None:
                feed = sum(inp["bytes"][t] for t in SINK_TABLES)
                layers["pipeline.manifest.bytes_per_input_byte"] = written / feed
            for part, name in (("jvm", "spark.jvm"), ("workers", "spark.python_workers")):
                layers[f"{name}.peak_rss_mb"] = statistics.median(
                    r["rss_mb"][part] for r in traced)
            layers["bench.trace_overhead_s"] = (
                statistics.median(r["wall_s"] for r in traced) - e2e["wall_s"])
            layers.update(workloads.kernel_rates(workload, inp))
            if workload == "pipeline":
                layers["operators.dedup.refine_yield"] = workloads.refine_yield(
                    spark, f"{keep}/near-dup")
            with open(f"{os.path.dirname(work)}/spans-{workload}-{seed}.json", "w") as f:
                json.dump(tr.spans, f)
        details["iterations"] = [
            {k: v for k, v in r.items() if k in ("i", "traced", "wall_s", "rss_mb")}
            for r in iters
        ]
    finally:
        if sampler is not None:
            sampler.close()
        _stop_spark(spark)
    details["hw_rows_per_core_sec_after"] = _calibrate()
    details["fail_frac"] = failed / attempted
    shutil.rmtree(work, ignore_errors=True)
    return {"details": details, "e2e": e2e, "layers": layers,
            "attempted": attempted, "failed": failed}


def main(argv=None) -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--size", choices=["full", "tiny"], default="full",
                    help="input size; 'tiny' is for the self-tests")
    args = ap.parse_args(argv)
    for need in ("lagespark/__init__.py", "BENCH/scaling.py", "tools/make_pyfiles_zip.py",
                 "BENCHMARK.json"):
        if not os.path.isfile(os.path.join(ROOT, need)):
            _fail(f"{need} not found under {ROOT}: run from a lagespark checkout")
    sys.path.insert(0, ROOT)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)

    def _timeout(*_):
        raise TimeoutError(f"run exceeded {WATCHDOG_S} s")

    signal.signal(signal.SIGALRM, _timeout)
    signal.alarm(WATCHDOG_S)
    res = run(args.workload, args.seed, args.seconds, bool(args.trace), args.size)
    signal.alarm(0)

    print("perfbench-details " + json.dumps(res["details"], default=float))
    measured = res["layers"] if args.trace else res["e2e"]
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    missing = [m["name"] for m in wanted if m["name"] not in measured]
    # calls this workload does not make: printed as 0
    print("perfbench-not-exercised " + json.dumps(missing))
    metrics = {
        m["name"]: {"value": float(measured.get(m["name"], 0.0)), "unit": m["unit"]}
        for m in wanted
    }
    print(json.dumps({"correct": res["failed"] == 0, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
