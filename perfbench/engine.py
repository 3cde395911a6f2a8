"""Engine-side launcher: runs the engine in its own process for one run.

Usage (started by ``run.py``, never by hand)::

    python perfbench/engine.py <spec.json>

``serve_*`` specs build the store with the CLI's ``preprocessing`` and
``append`` commands, drop the build's cached frames, and then serve
through ``cli api`` exactly as a deployment does: a FAIR-scheduled session
and ``load_version`` of the saved store.
The process serves until it receives SIGTERM.

``curation_batch`` specs run whole curation passes, each row through the
``driver_queries.QUERIES`` registry and collected, on the JVM the batch
started, until the run's seconds are used; a pass always completes.

Progress goes to stdout as ``PERFBENCH <json>`` lines stamped with
``time.monotonic()``, which is the same clock in every process on the
host. With ``"trace": true`` the wrappers from ``tracing.py`` are installed
and the Spark event log is enabled; spans are written at exit.
"""

from __future__ import annotations

import hashlib
import json
import os
import signal
import sys
import time
from argparse import Namespace
from collections import Counter
from contextlib import nullcontext

CURATION_ROWS = ("pipeline_curation_near_dup", "semdedup_prune",
                 "dedup_substring_char_spans")


def emit(event: str, **fields) -> None:
    print("PERFBENCH " + json.dumps({"event": event, "t": time.monotonic(),
                                     **fields}), flush=True)


def normalize(val) -> str:
    """Value normalization shared with the DuckDB oracle side (the same rules
    as the repository's correctness gate): order-insensitive multisets of
    stringified values, floats to 6 significant digits."""
    import datetime as dt
    import math

    if val is None:
        return "NULL"
    if isinstance(val, bool):
        return str(val).lower()
    if isinstance(val, float):
        return "nan" if math.isnan(val) else f"{val:.6g}"
    if isinstance(val, dt.datetime):
        return val.isoformat(sep=" ")
    if isinstance(val, dt.date):
        return val.isoformat()
    if isinstance(val, (list, tuple)):
        return "[" + ",".join(normalize(v) for v in val) + "]"
    return str(val)


def digest(columns: list[str], rows) -> str:
    """Hash of a result as sorted column names + value multiset."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    bag = Counter(tuple(normalize(r[i]) for i in order) for r in rows)
    text = repr(([columns[i] for i in order], sorted(bag.items())))
    return hashlib.sha1(text.encode()).hexdigest()


def storage_bytes(spark) -> int:
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(int(i.memSize()) + int(i.diskSize()) for i in infos)


def build_store(spark, spec: dict) -> None:
    from lapis_silo_spark import cli

    inputs = spec["inputs"]
    root = spec["store"]
    emit("build_start")
    cli.cmd_preprocessing(Namespace(
        config=inputs["config"], input=inputs["input"], output=root,
        reference_genomes=inputs["reference"],
        lineage_definition=inputs.get("lineage"),
        lineage_column="pango_lineage", phylo_tree=None,
        phylo_column="usherTree"))
    emit("version_written", label="base")
    if inputs.get("append"):
        cli.cmd_append(Namespace(
            config=inputs["config"], input=inputs["append"], root=root,
            reference_genomes=inputs["reference"]))
        emit("version_written", label="append")
    emit("build_done")
    spark.catalog.clearCache()


def serve(spark, spec: dict, tracer) -> None:
    from lapis_silo_spark import cli

    build_store(spark, spec)

    def stop(_signum, _frame):
        raise SystemExit(0)

    signal.signal(signal.SIGTERM, stop)
    emit("serving")
    try:
        cli.cmd_api(Namespace(root=spec["store"], host="127.0.0.1",
                              port=spec["port"]))
    finally:
        finish(spark, spec, tracer)


def curation(spark, spec: dict, tracer) -> None:
    from lapis_silo_spark import driver_queries as dq

    def span(name: str):
        return tracer.span(name) if tracer is not None else nullcontext()

    corpus = spec["inputs"]["corpus"]
    dq.db_for(spark, corpus)
    emit("ready")
    start = time.monotonic()
    k = 0
    while True:
        op = f"pass-{k}"
        rows_out = []
        for name in CURATION_ROWS:
            if tracer is not None:
                tracer.set_op(op)
            t0 = time.monotonic()
            err = None
            try:
                with span("functions.build"):
                    df = dq.QUERIES[name](spark, corpus)
                t1 = time.monotonic()
                with span("functions.exec"):
                    rows = df.collect()
                t2 = time.monotonic()
                result = digest(df.columns, rows)
            except Exception as exc:  # noqa: BLE001 — reported as a failed op
                t1 = t2 = time.monotonic()
                result, err = None, f"{type(exc).__name__}: {exc}"[:500]
            rows_out.append({"row": name, "start": t0, "built": t1,
                             "end": t2, "digest": result, "error": err})
        emit("pass", op=op, rows=rows_out)
        k += 1
        if time.monotonic() - start >= spec["seconds"]:
            break
    if tracer is not None:
        tracer.set_op(None)
    finish(spark, spec, tracer)


def finish(spark, spec: dict, tracer) -> None:
    if tracer is not None:
        tracer.meta["cache_persisted_bytes"] = storage_bytes(spark)
        tracer.dump(spec["spans"])
    spark.stop()
    emit("stopped")


def main() -> int:
    with open(sys.argv[1]) as fh:
        spec = json.load(fh)
    tracer = None
    if spec["trace"]:
        import tracing

        tracer = tracing.Tracer()
        tracing.install(tracer)
        tracer.set_op("setup")
    from lapis_silo_spark.session import get_spark

    conf = {}
    if spec["workload"].startswith("serve"):
        conf["spark.scheduler.mode"] = "FAIR"
    if spec["trace"]:
        os.makedirs(spec["event_log"], exist_ok=True)
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": "file://" + spec["event_log"],
                     "spark.eventLog.compress": "false"})
    spark = get_spark(extra_conf=conf or None)
    emit("spark_ready")
    if tracer is not None:
        tracer.set_op("setup")
    if spec["workload"] == "curation_batch":
        curation(spark, spec, tracer)
    else:
        serve(spark, spec, tracer)
    return 0


if __name__ == "__main__":
    sys.exit(main())
