"""Per-query Spark layers of the entry queries, in one warm session.

Runs each named ``__spark_entry__.queries()`` entry once (default: all)
as ``query(spark, sf).count()``, after ``cache.release_all()`` and
``catalog.clearCache()``, so no query reads another's cache. Each
query's jobs carry its name as their job group and description and as
perfbench's layer property; the session writes an uncompressed event
log, which ``perfbench.eventlog.aggregate`` folds per query into jobs,
stages, tasks, Python run and start time, Arrow MB into and out of the
Python workers, and shuffle and spill.

Per query: ``wall_s``, ``jobs`` (the job group's jobs, the census
count), the ``spark.*`` layer metrics and, for a query that raised,
``error``. ``spark.jobs`` also counts jobs the query starts in other
threads (a streaming query's micro-batches), which run under their own
job group.

Usage: python tools/layer_profile.py [--sf DIR] [names...]
Run from the root of a checkout. Writes BENCH/LAYERS_r18.json and
prints the per-query records as one JSON line last; exits 1 if any
query raised.
"""

from __future__ import annotations

import argparse
import json
import sys
import tempfile
import time
import traceback
from pathlib import Path

OUT = Path("BENCH/LAYERS_r18.json")
RUN = "layer_profile"


def census(spark, names, sf_dir: str) -> dict[str, dict]:
    """Run each entry query once: {name: {"wall_s", "jobs"[, "error"]}}.
    The job count is read from the status tracker, so it needs no event
    log and works in any session."""
    import __spark_entry__ as entrymod
    from hgt2osm2_spark import cache
    from perfbench.spans import LAYER_PROP, RUN_PROP

    qs = entrymod.queries()
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    out: dict[str, dict] = {}
    for name in names:
        cache.release_all()
        spark.catalog.clearCache()
        group = f"{RUN}:{name}"
        sc.setJobGroup(group, name)
        sc.setLocalProperty(LAYER_PROP, name)
        sc.setLocalProperty(RUN_PROP, RUN)
        rec: dict = {}
        t0 = time.perf_counter()
        try:
            qs[name](spark, sf_dir).count()
        except Exception:  # a failing query is reported, the census goes on
            rec["error"] = traceback.format_exc(limit=3)
        finally:
            for prop in ("spark.jobGroup.id", "spark.job.description",
                         LAYER_PROP, RUN_PROP):
                sc.setLocalProperty(prop, None)
        rec["wall_s"] = round(time.perf_counter() - t0, 3)
        rec["jobs"] = len(tracker.getJobIdsForGroup(group))
        out[name] = rec
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("names", nargs="*")
    args = ap.parse_args(argv)

    import __spark_entry__ as entrymod
    from hgt2osm2_spark.session import get_spark
    from perfbench import eventlog, host

    names = args.names or list(entrymod.queries())
    with tempfile.TemporaryDirectory(prefix="layer_profile_") as log_dir:
        spark = get_spark("layer-profile", extra={
            "spark.ui.showConsoleProgress": "false",
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": log_dir,
            "spark.eventLog.compress": "false",
        })
        # warm the JVM and the Arrow paths, as bench.py does
        spark.read.parquet(f"{args.sf}/lineitem.parquet").count()
        recs = census(spark, names, args.sf)
        spark.stop()  # closes the event log
        layers = eventlog.aggregate(eventlog.read_events(Path(log_dir)))
    for name, rec in recs.items():
        m = layers.get((RUN, name), dict.fromkeys(eventlog.METRICS, 0.0))
        rec.update({k: round(v, 3) for k, v in m.items()})
    total = {k: round(sum(r[k] for r in recs.values()), 3)
             for k in ("wall_s", "jobs", *eventlog.METRICS)}
    OUT.parent.mkdir(exist_ok=True)
    OUT.write_text(json.dumps({"host": host.facts(), "sf": args.sf,
                               "total": total, "queries": recs}, indent=1) + "\n")
    print(json.dumps(recs))
    return int(any("error" in r for r in recs.values()))


if __name__ == "__main__":
    sys.path.insert(0, ".")  # the checkout in the working directory
    sys.exit(main())
