"""Run ``filter_job.main`` in this process with the benchmark's probes.

    python3 perfbench/jobwrap.py OUT.json TRACE [filter_job args...]

Behaves as ``python -m languagedetection_spark.jobs.filter_job [args...]``
(same exit code, stdout and stderr) and writes OUT.json when the job ends,
also when it raises.  With TRACE=0 the only probe is the time the model
broadcast returns (the end of set-up).  With TRACE=1 spans are recorded
around the job's calls into each module by replacing, at runtime, the
module attributes ``filter_job.main`` resolves at call time; no package
file is changed.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from spans import Tracer  # noqa: E402


def install(tracer: Tracer, out: dict) -> None:
    from pyspark.sql import SparkSession

    import procprobe
    from languagedetection_spark.functions import udfs
    from languagedetection_spark.jobs import filter_job
    from languagedetection_spark.operators import quality_filter
    from languagedetection_spark.plans import session
    from languagedetection_spark.sources import checkpoint, readers, sinks

    t = tracer
    session.get_spark = t.wrap(session.get_spark, "session.get_spark")
    filter_job.build_model = t.wrap(filter_job.build_model, "model.build")
    checkpoint.model_fingerprint = t.wrap(
        checkpoint.model_fingerprint, "model.fingerprint")
    udfs.broadcast_model = t.wrap(udfs.broadcast_model, "model.broadcast")
    readers.read_transcripts = t.wrap(
        readers.read_transcripts, "readers.read_transcripts")
    checkpoint.record_done = t.wrap(
        checkpoint.record_done, "checkpoint.record_done")
    quality_filter.conv_report = t.wrap(
        quality_filter.conv_report, "quality_filter.conv_report",
        interval=True)
    sinks.write_bucketed = t.wrap(sinks.write_bucketed, "sinks.write_bucketed")
    SparkSession.stop = t.wrap(SparkSession.stop, "session.stop")

    load_completed = checkpoint.load_completed

    def counted_load_completed(*a, **kw):
        done = load_completed(*a, **kw)
        out["buckets_skipped"] = len(done)
        return done

    checkpoint.load_completed = t.wrap(
        counted_load_completed, "checkpoint.load_completed")

    # one bucket = from the call of `process` until its metrics re-read
    # returns; its self time is the bucket's write pass
    bucket: list = []
    bucket_metrics = checkpoint._bucket_metrics

    def traced_bucket_metrics(*a, **kw):
        res = t.wrap(bucket_metrics, "checkpoint.bucket_metrics")(*a, **kw)
        t.end(bucket.pop())
        return res

    checkpoint._bucket_metrics = traced_bucket_metrics
    run_with_checkpoint = checkpoint.run_with_checkpoint

    def traced_run(spark, df, process, *a, **kw):
        def traced_process(part):
            bucket.append(t.begin("checkpoint.bucket"))
            return t.wrap(process, "quality_filter.process")(part)

        t0 = time.perf_counter()
        jvm = procprobe.jvm_pid(os.getpid())
        r0 = procprobe.rchar(jvm)
        out["probe_s"] = time.perf_counter() - t0
        try:
            return run_with_checkpoint(spark, df, traced_process, *a, **kw)
        finally:
            t1 = time.perf_counter()
            out["bucket_loop_rchar"] = procprobe.rchar(jvm) - r0
            out["probe_s"] += time.perf_counter() - t1

    checkpoint.run_with_checkpoint = t.wrap(
        traced_run, "checkpoint.run_with_checkpoint")


def main() -> int:
    out_path, trace, argv = sys.argv[1], sys.argv[2] == "1", sys.argv[3:]
    out: dict = {}
    tracer = Tracer()
    if trace:
        imports = tracer.begin("imports")
        install(tracer, out)
        tracer.end(imports)
    from languagedetection_spark.functions import udfs
    from languagedetection_spark.jobs import filter_job

    broadcast_model = udfs.broadcast_model

    def timed_broadcast(*a, **kw):
        bc = broadcast_model(*a, **kw)
        out["broadcast_done"] = time.time()
        return bc

    udfs.broadcast_model = timed_broadcast
    try:
        return filter_job.main(argv)
    finally:
        out["spans"] = tracer.finish()
        out["tracer_s"] = tracer.own_s
        with open(out_path, "w") as f:
            json.dump(out, f)


if __name__ == "__main__":
    sys.exit(main())
