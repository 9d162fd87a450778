"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Runs one workload from the checkout root and prints, as the last line of
standard output, one JSON object with the keys ``correct``, ``attempted``,
``failed`` and ``metrics``. ``--trace 0`` reports the end-to-end metrics,
``--trace 1`` the per-layer metrics of a traced run. The line before it
(``# info ...``) records the inputs' content hashes, sample counts and
the environment that shapes the numbers. Exits non-zero when an operation
failed or when the engine cannot be imported.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import platform
import signal
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from perfbench import workloads  # noqa: E402

def declared_metrics(trace: bool) -> dict[str, str]:
    """name -> unit of the metrics BENCHMARK.json declares for this mode."""
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def environment() -> dict:
    import pyarrow
    import pyspark

    from orc_rust_spark.codecs import block

    return {
        "nproc": len(os.sched_getaffinity(0)),
        "spark_cpus": workloads.cpus(),
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "block_codecs": block.available_codecs(),
        "default_block_codec": block.default_codec(),
        # the block codec takes zstd from pyarrow when zstandard is absent
        "zstd_backend": "zstandard" if importlib.util.find_spec("zstandard") else "pyarrow",
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=workloads.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    import orc_rust_spark  # noqa: F401  fail before any work without the engine

    # a terminated run still stops Spark and removes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))

    units = declared_metrics(bool(args.trace))
    ops, metrics, info = workloads.run(args.workload, args.seed, args.seconds, bool(args.trace))
    if set(metrics) != set(units):
        raise RuntimeError(f"metrics differ from BENCHMARK.json: {sorted(set(metrics) ^ set(units))}")
    for note in ops.notes:
        print(note, file=sys.stderr)
    info["environment"] = environment()
    print("# info " + json.dumps(info, sort_keys=True))
    print(json.dumps({
        "correct": ops.failed == 0,
        "attempted": ops.attempted,
        "failed": ops.failed,
        "metrics": {k: {"value": float(metrics[k]), "unit": u} for k, u in units.items()},
    }), flush=True)
    return 0 if ops.failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
