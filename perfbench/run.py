"""Layered benchmark of the isoline engine.

    python3 perfbench/run.py --workload tile_pip --seed 1 --seconds 16 --trace 0

Run from the root of a checkout. Prints a host stamp line, then, as
the last line, one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics`` (end-to-end metrics with --trace 0,
per-layer metrics with --trace 1). See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORKLOADS = ("tile_pip", "mosaic_drainage")


def parse(argv=None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse(argv)
    if not (ROOT / "hgt2osm2_spark" / "__init__.py").is_file():
        print(f"perfbench: no engine package hgt2osm2_spark under {ROOT}",
              file=sys.stderr)
        return 2
    # import the package from the checkout root, not this script's dir
    sys.path[0] = str(ROOT)
    from perfbench import harness

    return harness.main(args.workload, args.seed, args.seconds,
                        bool(args.trace), ROOT)


if __name__ == "__main__":
    sys.exit(main())
