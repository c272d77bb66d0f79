"""Work directory, process environment and host facts.

Everything a run writes lands under ``<checkout>/.bench_build/perfbench``:
the C-kernel build cache, Spark's local and warehouse dirs, the JVM
temp dir, event logs, OSM output and result records.
"""

from __future__ import annotations

import os
import platform
from pathlib import Path


def work_dir(root: Path) -> Path:
    return root / ".bench_build" / "perfbench"


def prepare_env(root: Path) -> Path:
    """Point every cache and temp dir of the driver, the JVM and the
    Python workers into the work dir. Must run before pyspark starts
    the JVM: the JVM and the workers inherit this environment."""
    work = work_dir(root)
    for sub in ("cache", "tmp", "local", "warehouse", "eventlog", "out", "results"):
        (work / sub).mkdir(parents=True, exist_ok=True)
    os.environ["XDG_CACHE_HOME"] = str(work / "cache")  # C-kernel .so cache
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "local")
    # -XX:-UsePerfData: no hsperfdata files in the system temp dir
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={work / 'tmp'}"
    )
    # Python workers import the engine package from the checkout
    paths = [str(root)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(dict.fromkeys(paths))
    os.environ.pop("HGT2OSM2_NO_CKERNEL", None)  # measure the shipped path
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR
    return work


def ncores() -> int:
    return len(os.sched_getaffinity(0))


def ram_mb() -> float:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def driver_memory() -> str:
    """Driver heap well below host RAM: a quarter of it, at most 2 GiB.
    The inputs are small; a capped heap reaches its working size within
    the warm-up, which keeps peak RSS steady from run to run."""
    mib = int(ram_mb() / 4)
    return f"{min(max(mib, 512), 2048)}m"


def facts() -> dict:
    """Host stamp of a result: numbers compare only within one host."""
    import numpy
    import pyarrow
    import pyspark

    from hgt2osm2_spark.kernels import (
        marching_cext, postprocess_cext, stitch_cext, terrain_cext,
    )

    return {
        "nproc": ncores(),
        "ram_mb": round(ram_mb()),
        "machine": platform.machine(),
        "python": platform.python_version(),
        "spark": pyspark.__version__,
        "numpy": numpy.__version__,
        "pyarrow": pyarrow.__version__,
        "c_kernels": {
            "marching": marching_cext.available(),
            "stitch": stitch_cext.available(),
            "postprocess": postprocess_cext.available(),
            "terrain": terrain_cext.available(),
        },
    }
