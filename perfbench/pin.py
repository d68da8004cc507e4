"""Regenerate ``pins.json``: the digests every benchmark run is checked
against — each workload's generated inputs and the outputs of the
workload's call on them, for every workload.

    python3 perfbench/pin.py [--toy]

Pins are the expected outputs of the program as of the commit that wrote
them.  Regenerate them only when a change is meant to alter the program's
outputs or the generator, and say so in that change.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import run as R  # noqa: E402


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--toy", action="store_true")
    args = p.parse_args(argv)
    sys.path.insert(0, R.ROOT)
    import workloads as W

    pins = W.load_pins() if os.path.exists(W.PINS) else {}
    work = os.path.join(R.STATE, f"pin-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    nproc = len(os.sched_getaffinity(0))
    spark = R.start_session(work, nproc, trace=False)
    try:
        dest = pins[W.pin_key(args.toy)] = {}
        for name, spec in sorted(W.WORKLOADS.items()):
            inputs = W.materialise(spark, spec, args.toy)
            runner = W.Runner(spec, inputs, work)
            out = runner.op()
            if not W.summary_consistent(out):
                raise SystemExit(f"{name}: inconsistent summary")
            dest[name] = {
                "corpus_seed": W.CORPUS_SEED,
                "inputs": inputs.digest,
                "op": W.digests(out),
                "attempted": out["summary"]["attempted"],
                "f1": round(runner.f1(out), 6),
            }
            print(name, dest[name], file=sys.stderr, flush=True)
        with open(W.PINS, "w") as fh:
            json.dump(pins, fh, indent=1, sort_keys=True)
    finally:
        R.stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
