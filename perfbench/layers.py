"""Layer-split measurements for the traced run.

``spark_layers`` runs in its own process (a fresh JVM at local[4]):

    python3 perfbench/layers.py OUT.json INPUT_DIR

and times three Spark variants over the workload input into the noop sink
-- scan only, an identity ``mapInPandas`` (the JVM->Arrow->pandas round
trip) and the job's ``with_decisions`` -- plus single-task vs four-task
``with_decisions`` pairs for the parallel efficiency.

``kernel_layers`` times the kernel in-process, single-threaded, on a
sample of the workload's turns; ``init_seconds`` unpickles the model in
fresh processes, because the kernel's translate tables are built once per
process.
"""

from __future__ import annotations

import glob
import json
import os
import pickle
import statistics
import subprocess
import sys
import time

SCAN_REPS = 3
EFF_PAIRS = 3
INIT_REPS = 3
KERNEL_REPS = 3                 # warm in-process passes; the median counts


def _noop(df) -> float:
    t = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t


def spark_layers(input_dir: str) -> dict:
    import pyarrow.parquet as pq

    from languagedetection_spark.functions.udfs import (
        broadcast_model, with_decisions,
    )
    from languagedetection_spark.jobs.filter_job import build_model
    from languagedetection_spark.plans.session import get_spark
    from languagedetection_spark.sources.readers import (
        TRANSCRIPT_SCHEMA, read_transcripts,
    )

    spark = get_spark(master="local[4]", app_name="perfbench-layers")
    try:
        bc = broadcast_model(spark, build_model(spark, None))
        files = sorted(glob.glob(os.path.join(input_dir, "*.parquet")))
        rows = [pq.ParquetFile(f).metadata.num_rows for f in files]
        full = read_transcripts(spark, input_dir)

        def decide(paths):
            return with_decisions(
                spark.read.schema(TRANSCRIPT_SCHEMA).parquet(*paths), bc)

        # start the Python workers and unpickle the model before timing
        _noop(decide(files[:1]))
        scan = statistics.median(_noop(full) for _ in range(SCAN_REPS))
        ident = statistics.median(
            _noop(full.mapInPandas(lambda it: it, schema=full.schema))
            for _ in range(SCAN_REPS))
        decided = _noop(with_decisions(full, bc))

        # local[4] vs 4 x single thread: one file is one task
        effs = []
        for i in range(EFF_PAIRS):
            one = [files[i % len(files)]]
            four = [files[(i + k) % len(files)] for k in range(4)]
            if i % 2:
                t4, t1 = _noop(decide(four)), _noop(decide(one))
            else:
                t1, t4 = _noop(decide(one)), _noop(decide(four))
            r1 = rows[i % len(files)]
            r4 = sum(rows[(i + k) % len(files)] for k in range(4))
            effs.append((r4 / t4) / (4 * r1 / t1))
    finally:
        spark.stop()
    return {
        "readers.scan_s": scan,
        "udfs.arrow_roundtrip_s": ident - scan,
        "udfs.with_decisions_s": decided,
        "udfs.kernel_share": (decided - ident) / decided,
        "udfs.parallel_eff": statistics.median(effs),
        "udfs.parallel_eff_pairs": effs,
    }


def kernel_layers(texts: list[str]) -> dict:
    """Single-threaded kernel timings over ``texts`` (seconds per pass;
    warm timings are the median of KERNEL_REPS passes)."""
    from languagedetection_spark.jobs.filter_job import build_model

    model = build_model(None, None)
    calls = [0]
    token_entry = model._token_entry

    def counted(tok):
        calls[0] += 1
        return token_entry(tok)

    model._token_entry = counted       # instance attribute: this model only
    t = time.perf_counter()
    for x in texts:
        model.decide(x)
    cold = time.perf_counter() - t
    memo_ratio = 1 - len(model._token_memo) / max(1, calls[0])
    del model._token_entry

    def timed(fn) -> float:
        runs = []
        for _ in range(KERNEL_REPS):
            t = time.perf_counter()
            fn()
            runs.append(time.perf_counter() - t)
        return statistics.median(runs)

    warm = timed(lambda: [model.decide(x) for x in texts])
    langs = [model.classify_text(x)[0] for x in texts]
    classify = timed(lambda: [model.classify_text(x) for x in texts])
    ppl = timed(lambda: [model.perplexity(x, l) for x, l in zip(texts, langs)])
    scrub = timed(lambda: [model.scrub(x) for x in texts])
    import pandas as pd

    series = pd.Series(texts)
    batch = timed(lambda: model.decide_batch(series))
    return {
        "kernels.decide_tps_cold": len(texts) / cold,
        "kernels.decide_tps_warm": len(texts) / warm,
        "kernels.classify_s": classify,
        "kernels.perplexity_s": ppl,
        "kernels.scrub_s": scrub,
        # what decide spends outside the three timed parts
        "kernels.heuristics_s": warm - classify - ppl - scrub,
        "kernels.batch_assembly_s": batch - warm,
        "kernels.token_memo_hit_ratio": memo_ratio,
        "kernels.scrub_rewrite_ratio":
            sum(model.scrub(x) != x for x in texts) / len(texts),
        "kernels.sample_turns": len(texts),
    }


_INIT_CODE = """
import pickle, sys, time
import languagedetection_spark.functions.kernels
blob = open(sys.argv[1], "rb").read()
t = time.perf_counter()
pickle.loads(blob)
print(time.perf_counter() - t)
"""


def init_seconds(model_pickle: str, env: dict, cwd: str) -> float:
    """Median time to unpickle the model in a fresh interpreter."""
    times = []
    for _ in range(INIT_REPS):
        r = subprocess.run([sys.executable, "-c", _INIT_CODE, model_pickle],
                           env=env, cwd=cwd, capture_output=True, text=True,
                           timeout=60, check=True)
        times.append(float(r.stdout.strip()))
    return statistics.median(times)


def model_pickle(path: str) -> float:
    """Pickle the job's default model to ``path``; returns its size in MB."""
    from languagedetection_spark.jobs.filter_job import build_model

    blob = pickle.dumps(build_model(None, None))
    with open(path, "wb") as f:
        f.write(blob)
    return len(blob) / 1e6


if __name__ == "__main__":
    sys.path.insert(0, os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))))
    res = spark_layers(sys.argv[2])
    with open(sys.argv[1], "w") as f:
        json.dump(res, f)
