"""Benchmark of the address matcher's public API, ``api.match_addresses``.

    python3 perfbench/run.py --workload batch_skewed --seed 3 --seconds 20 --trace 0

Run from the root of a checkout.  One process starts a Spark session at
local[N] (N = the CPUs this process may use), makes the workload's inputs
(one fixed corpus per workload; --seed only labels the repeat), then calls
the API back to back for --seconds (at least once), checking every call's
outputs against the digests pinned in ``pins.json``.  The last line of
standard output is one JSON object: ``correct``, ``attempted``, ``failed``
and ``metrics``.
Everything else — Spark's log included — goes to standard error.

--trace 0 reports the end-to-end metrics (see BENCHMARK.json):
  setup_s        session start + median of three input generations and
                 materialisations (nothing is warmed: the first timed call
                 pays the session's JIT, code generation and worker start)
  records_per_s  search records submitted ÷ wall time of the timed calls
                 (the workload's stated size; the co-filter and the prior
                 decide how many the waterfall attempts)
  match_f1       pairwise F1 of full_match pairs against labeled_pairs
  peak_rss_mb    peak summed RSS of the process tree during the timed calls
--trace 1 makes one timed call with Spark's uncompressed event log on and
the layer entry points wrapped (``tracing``), and reports the per-layer
metrics ``eventlog.build`` derives.

A fuller record of each run — failed share, each call's wall time, nproc,
Spark version, seed, and for traced runs the level → pass → job → stage → node
report and the tracing overhead — is written to
``.perfbench/reports/<workload>-seed<seed>-trace<0|1>.json``.

--toy runs the same code on tiny corpora (the smoke test uses it).
"""

from __future__ import annotations

import argparse
import glob
import hashlib
import json
import os
import shlex
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")

SETUP_REPEATS = 3
DRIVER_MEM = "2g"


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--toy", action="store_true",
                   help="tiny corpora (smoke test)")
    return p.parse_args(argv)


def start_session(work: str, nproc: int, trace: bool):
    confs = {
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData"
            f" -Xms{DRIVER_MEM}",
    }
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir)
        confs.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + log_dir,
            # the default zstd codec is not readable without `zstandard`
            "spark.eventLog.compress": "false",
        })
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"--conf {shlex.quote(f'{k}={v}')}" for k, v in confs.items()
    ) + " pyspark-shell"
    # ship the package to the Python workers: they start from the JVM's
    # environment, not from this interpreter's sys.path
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc)
    # a fixed-size driver heap: with get_spark's 8g default G1 grew the
    # heap to anywhere from 3.4 to 5.5 GB from run to run on the same live
    # data, which swamped peak_rss_mb; these corpora run as fast in 2g
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM

    from address_matcher_spark.session import get_spark

    spark = get_spark(app_name="perfbench", master=f"local[{nproc}]",
                      shuffle_partitions=nproc)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM and its Python workers to end."""
    import procs
    from pyspark import SparkContext

    tree = [p for p in procs.descendants() if p != os.getpid()]
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    for pid in procs.wait_gone(tree, timeout=30):
        try:
            os.kill(pid, 9)
        except OSError:
            pass
    procs.wait_gone(tree, timeout=10)


HISTORY = os.path.join(STATE, "history.jsonl")


def program_digest() -> str:
    """Digest of the program's and the benchmark's sources, so that the
    history holds apart runs of different code in the same directory."""
    h = hashlib.sha256()
    for top in ("address_matcher_spark", "perfbench"):
        for path in sorted(glob.glob(os.path.join(ROOT, top, "**", "*.py"),
                                     recursive=True)):
            h.update(os.path.relpath(path, ROOT).encode())
            with open(path, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()[:16]


def _untraced_call_walls(key: dict) -> list[float]:
    """Call wall times of the untraced runs of this code on one workload
    (the base of a traced run's tracing overhead)."""
    if not os.path.exists(HISTORY):
        return []
    with open(HISTORY) as fh:
        runs = [json.loads(line) for line in fh if line.strip()]
    return [w for r in runs if r.get("key") == key for w in r["call_walls_s"]]


def _metric_units(trace: bool) -> dict[str, str]:
    """name → unit of the metrics this run reports, from BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    return {m["name"]: m["unit"]
            for m in bench["per_layer" if trace else "end_to_end"]}


def _timed_calls(runner, pins: dict, seconds: float, once: bool) -> dict:
    """Call back to back until `seconds` have passed (at least once),
    checking each call's outputs; a call that raises or differs from the
    pins counts as failed and the loop goes on."""
    import procs
    import workloads as W

    walls, f1s, failed, outputs = [], [], 0, None
    with procs.PeakRss() as rss:
        start = time.perf_counter()
        while True:
            t = time.perf_counter()
            try:
                outputs = runner.op()
                ok = (W.digests(outputs) == pins["op"]
                      and W.summary_consistent(outputs))
                if not ok:
                    print("perfbench: call outputs differ from the pins",
                          file=sys.stderr)
            except Exception:
                traceback.print_exc()
                ok, outputs = False, None
            walls.append(time.perf_counter() - t)
            if ok:
                f1s.append(runner.f1(outputs))
            else:
                failed += 1
            if once or time.perf_counter() - start >= seconds:
                break
    return {"walls": walls, "f1s": f1s, "failed": failed, "outputs": outputs,
            "peak_bytes": rss.peak}


def run(args) -> dict:
    sys.path.insert(0, ROOT)
    try:
        import address_matcher_spark  # noqa: F401
    except ImportError as e:
        raise SystemExit(f"perfbench: the program is not in this checkout ({e})")
    import workloads as W

    if args.workload not in W.WORKLOADS:
        raise SystemExit(f"perfbench: unknown workload {args.workload!r}; "
                         f"choose from {sorted(W.WORKLOADS)}")
    spec = W.WORKLOADS[args.workload]
    units = _metric_units(args.trace)
    pins = W.load_pins()[W.pin_key(args.toy)][spec.name]

    nproc = len(os.sched_getaffinity(0))
    os.makedirs(os.path.join(STATE, "reports"), exist_ok=True)
    work = os.path.join(STATE, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    spark = None
    try:
        t = time.perf_counter()
        spark = start_session(work, nproc, args.trace)
        session_s = time.perf_counter() - t
        mats = []
        for _ in range(SETUP_REPEATS):
            t = time.perf_counter()
            inputs = W.materialise(spark, spec, args.toy)
            mats.append(time.perf_counter() - t)
        if inputs.digest != pins["inputs"]:
            raise SystemExit(
                f"perfbench: generated inputs {inputs.digest} differ from the "
                f"pinned {pins['inputs']}: the generator changed; refusing to report")
        runner = W.Runner(spec, inputs, work)

        tracer = None
        if args.trace:
            import tracing
            tracer = tracing.install(spark)
        t0 = time.time()
        calls = _timed_calls(runner, pins, args.seconds, once=bool(args.trace))
        t1 = time.time()
        walls, f1s, failed = calls["walls"], calls["f1s"], calls["failed"]
        e2e = {
            "setup_s": session_s + statistics.median(mats),
            "records_per_s": inputs.rows * (len(walls) - failed) / sum(walls),
            "match_f1": statistics.median(f1s) if f1s else 0.0,
            "peak_rss_mb": calls["peak_bytes"] / 2**20,
        }
        from pyspark import __version__ as spark_version
        key = {"program": program_digest(), "workload": spec.name,
               "toy": args.toy}
        record = {
            "workload": spec.name, "seed": args.seed,
            "corpus_seed": W.CORPUS_SEED, "toy": args.toy,
            "trace": args.trace, "nproc": nproc, "spark": spark_version,
            "inputs_digest": inputs.digest,
            "setup": {"session_s": session_s, "materialise_s": mats},
            "calls": len(walls), "failed": failed,
            "failed_share": failed / len(walls),
            "submitted_per_call": inputs.rows,
            "attempted_by_waterfall": (calls["outputs"] or {}).get(
                "summary", {}).get("attempted"),
            "call_walls_s": walls,
            "end_to_end": e2e,
        }
        metrics = e2e
        if tracer is not None:
            tracer.uninstall()
            # _trace_metrics stops the session to flush the event log
            traced, spark = spark, None
            metrics, record["trace_report"] = _trace_metrics(
                traced, runner, calls["outputs"], tracer, (t0, t1), work)
            untraced = _untraced_call_walls(key)
            record["tracing_overhead_s"] = (
                walls[0] - statistics.median(untraced) if untraced else None)
            record["tracing_overhead_base"] = (
                f"median of {len(untraced)} untraced calls of this code on this "
                f"workload" if untraced else
                "no untraced run of this code on this workload")
        else:
            with open(HISTORY, "a") as fh:
                fh.write(json.dumps({"key": key, "call_walls_s": walls}) + "\n")
        with open(os.path.join(STATE, "reports", f"{spec.name}-seed{args.seed}"
                               f"-trace{args.trace}.json"), "w") as fh:
            json.dump(record, fh, indent=1, default=str)
        print(json.dumps({k: v for k, v in record.items()
                          if k != "trace_report"}, default=str), file=sys.stderr)
        return {
            "correct": failed == 0,
            "attempted": len(walls),
            "failed": failed,
            "metrics": {k: {"value": metrics[k], "unit": u}
                        for k, u in units.items()},
        }
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)


def _trace_metrics(spark, runner, outputs, tracer, window, work):
    """Per-layer metrics of the traced call: counts taken outside the timed
    window, then the event log (flushed by stopping the session)."""
    import eventlog
    import workloads as W

    rw = [s for s in tracer.spans if s.name == "pipeline.run_waterfall"]
    waterfall = rw[0].value if rw else {}
    extra = W.layer_counts(runner, outputs, waterfall)
    stop_session(spark)
    log = eventlog.read(os.path.join(work, "eventlog"))
    report, metrics = eventlog.build(log, tracer.spans, window, waterfall, extra)
    return metrics, report


def main(argv=None) -> int:
    args = parse_args(argv)
    # the result line is the only thing on stdout: Spark's JVM and Python
    # workers inherit fd 1, so point it at stderr for the whole run
    result_fd = os.dup(1)
    os.dup2(2, 1)
    sys.path.insert(0, HERE)
    result = run(args)
    os.write(result_fd, (json.dumps(result) + "\n").encode())
    return 0


if __name__ == "__main__":
    sys.exit(main())
