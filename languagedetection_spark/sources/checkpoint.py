"""Per-partition checkpoint/resume with lineage (north_rule requirement).

The job splits its input into logical partitions (hash buckets of conv_id --
at production scale these are Iceberg partitions), processes each bucket
independently, and records one row per completed bucket in a ``_progress``
JSON-lines table (one atomically-renamed file per bucket):

    run_id, bucket, status, n_rows, n_kept, mean_lang_conf, n_no_lang,
    drop_reasons, output, n_buckets, model_fingerprint, input_path,
    finished_at

(the detector-confidence fields appear when the processed output carries
the quality-filter columns; a generic ``process`` gets counts only)

A bucket costs one pass: its metrics are observed on the write that stores
it.  A re-run with the same checkpoint dir and run_id skips the buckets
``_progress`` marks done (idempotent resume after failure), but first checks
that they were recorded under the same ``n_buckets`` and ``extra_lineage``
(the job's model fingerprint and input path), and raises otherwise.  Each
bucket's output is written to its own subdirectory, so a partially-written
bucket is simply overwritten on retry (overwrite-by-partition idempotency).
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import time

from pyspark.sql import DataFrame, Observation, SparkSession, functions as F

from ..functions.kernels import DROP_REASONS


def model_fingerprint(model) -> str:
    """Content fingerprint over a CANONICAL serialization.  (Pickle bytes are
    identity-sensitive: shared interned strings memoize into backreferences,
    so two equal-content models can pickle differently -- verified when a
    JSON round-trip changed the pickle. sort_keys JSON is stable.)"""
    state = model.__getstate__() if hasattr(model, "__getstate__") else model
    blob = json.dumps(state, sort_keys=True, ensure_ascii=False)
    return hashlib.sha256(blob.encode("utf-8")).hexdigest()[:16]


def _progress_path(checkpoint_dir: str) -> str:
    return os.path.join(checkpoint_dir, "_progress")


def load_completed(checkpoint_dir: str, run_id: str) -> dict[int, dict]:
    """The completed buckets of ``run_id``, each with its ``_progress`` row.
    Only the ``*.json`` files ``record_done`` renamed into place are read (a
    ``.tmp`` left by a crash before the rename is ignored); an unreadable
    row raises, naming its file."""
    pattern = os.path.join(_progress_path(checkpoint_dir),
                           glob.escape(run_id) + "-*.json")
    done = {}
    for path in sorted(glob.glob(pattern)):
        with open(path) as f:
            for line in f:
                try:
                    row = json.loads(line)
                except json.JSONDecodeError as e:
                    raise ValueError(
                        f"unreadable _progress row in {path}: {e}") from e
                if row.get("run_id") == run_id and row.get("status") == "done":
                    done[row["bucket"]] = row
    return done


def record_done(checkpoint_dir: str, run_id: str, bucket: int,
                metrics: dict) -> None:
    """Append one JSON line atomically (rename) -- crash-safe bookkeeping."""
    path = _progress_path(checkpoint_dir)
    os.makedirs(path, exist_ok=True)
    row = {"run_id": run_id, "bucket": bucket, "status": "done",
           "finished_at": time.time(), **metrics}
    final = os.path.join(path, f"{run_id}-{bucket}.json")
    tmp = final + ".tmp"
    with open(tmp, "w") as f:
        f.write(json.dumps(row) + "\n")
    os.replace(tmp, final)


def _observe(out: DataFrame) -> tuple[DataFrame, Observation]:
    """Attach the bucket's metrics to its write pass: row/keep counts plus
    the detector-confidence metrics the north_rule asks for (mean winner
    confidence, abstention count, drop-reason histogram).  Columns are
    optional — a non-filter ``process`` (e.g. the resume unit test's
    length flag) still gets n_rows/n_kept; the real quality_filter output
    gets the full set."""
    cols = set(out.columns)
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    if "keep" in cols:
        aggs.append(
            F.coalesce(F.sum(F.col("keep").cast("long")), F.lit(0))
            .alias("n_kept")
        )
    if "lang_conf" in cols:
        # avg ignores NULLs (abstained turns); 6 dp keeps the JSON stable
        aggs.append(F.round(F.avg("lang_conf"), 6).alias("mean_lang_conf"))
    if "lang" in cols:
        aggs.append(
            F.coalesce(F.sum(F.col("lang").isNull().cast("long")), F.lit(0))
            .alias("n_no_lang")
        )
    if "drop_reason" in cols:
        aggs.append(F.struct(*[
            F.count_if(F.col("drop_reason") == r).alias(r)
            for r in DROP_REASONS
        ]).alias("drop_reasons"))
    obs = Observation()
    return out.observe(obs, *aggs), obs


def _bucket_metrics(obs: Observation) -> dict:
    """The ``_progress`` metrics of a bucket whose write has returned."""
    metrics = {"n_kept": None, **obs.get}
    if "drop_reasons" in metrics:
        metrics["drop_reasons"] = {
            r: n for r, n in metrics["drop_reasons"].asDict().items() if n
        }
    return metrics


def run_with_checkpoint(
    spark: SparkSession,
    df: DataFrame,
    process,                      # DataFrame -> DataFrame
    output_dir: str,
    checkpoint_dir: str,
    run_id: str,
    n_buckets: int = 16,
    key: str = "conv_id",
    extra_lineage: dict | None = None,
) -> list[int]:
    """Process ``df`` bucket-by-bucket with resume.  Returns the buckets
    processed in THIS invocation (completed ones are skipped).

    Buckets are ``crc32(key) % n_buckets`` so membership is stable across
    runs and engines.  Each bucket filter is pushed into the scan."""
    identity = {"n_buckets": n_buckets, **(extra_lineage or {})}
    done = load_completed(checkpoint_dir, run_id)
    for b, row in sorted(done.items()):
        for field, value in identity.items():
            if row.get(field) != value:
                raise ValueError(
                    f"cannot resume run_id {run_id!r}: bucket {b} was "
                    f"recorded with {field}={row.get(field)!r}, this run "
                    f"has {field}={value!r}; use a new run_id")
    bucketed = df.withColumn(
        "_bucket", F.crc32(F.col(key).cast("string")) % n_buckets
    )
    processed = []
    for b in range(n_buckets):
        if b in done:
            continue
        part = bucketed.filter(F.col("_bucket") == b).drop("_bucket")
        out, obs = _observe(process(part))
        dest = os.path.join(output_dir, f"bucket={b}")
        out.write.mode("overwrite").parquet(dest)
        record_done(
            checkpoint_dir, run_id, b,
            {**_bucket_metrics(obs), "output": dest, **identity},
        )
        processed.append(b)
    return processed
