"""Output check for one benchmark iteration of ``filter_job``.

Every check raises ``CheckError`` naming the first defect found:

* exactly one decision per input ``(conv_id, turn_idx)`` across this run's
  ``bucket=0..n-1`` dirs, with the input columns carried through;
* ``keep`` is true exactly when ``drop_reason`` is null;
* ``_progress`` reconciles: one row per bucket, each row's ``n_rows`` and
  ``n_kept`` equal to its bucket's output, ``n_kept`` + Σ ``drop_reasons``
  = ``n_rows``, and Σ ``n_rows`` = input turns;
* a seeded sample of turns equals ``refmodel.quality.decide_turn`` exactly
  on every field;
* with ``--conv-report``/``--bucketed-table``: report rows = distinct
  ``conv_id``s, bucketed-table rows = kept turns.
"""

from __future__ import annotations

import glob
import json
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

DECISION_COLS = ("lang", "lang_conf", "ppl", "keep", "drop_reason",
                 "scrubbed_text")


class CheckError(AssertionError):
    pass


def _require(ok: bool, msg: str) -> None:
    if not ok:
        raise CheckError(msg)


def oracle():
    """(Vocabulary, TrigramModel) from the job's default training corpus."""
    from languagedetection_spark.fixtures.generate import gen_labeled_corpus
    from languagedetection_spark.refmodel.classifier import Vocabulary
    from languagedetection_spark.refmodel.quality import TrigramModel

    rows = [(lang, text) for text, lang, _ in gen_labeled_corpus()]
    v = Vocabulary()
    for lang, text in rows:
        v.load_labeled(lang, text)
    return v, TrigramModel.train(rows)


def read_parquet_dir(path: str) -> pa.Table:
    files = sorted(glob.glob(os.path.join(path, "*.parquet")))
    _require(bool(files), f"no parquet files under {path}")
    return pa.concat_tables([pq.read_table(f) for f in files],
                            promote_options="default")


def check_job_output(inp: pa.Table, out_dir: str, ckpt_dir: str,
                     run_id: str, n_buckets: int, model, seed: int,
                     sample: int) -> pa.Table:
    """Check the per-turn output and its lineage; returns the decisions."""
    parts = []
    for b in range(n_buckets):
        d = os.path.join(out_dir, f"bucket={b}")
        _require(os.path.isdir(d), f"missing bucket dir {d}")
        parts.append(read_parquet_dir(d))
    out = pa.concat_tables(parts, promote_options="default")

    keys = list(zip(out.column("conv_id").to_pylist(),
                    out.column("turn_idx").to_pylist()))
    _require(len(keys) == len(set(keys)),
             f"{len(keys) - len(set(keys))} duplicated (conv_id, turn_idx)")
    in_keys = list(zip(inp.column("conv_id").to_pylist(),
                       inp.column("turn_idx").to_pylist()))
    missing = set(in_keys) - set(keys)
    extra = set(keys) - set(in_keys)
    _require(not missing and not extra,
             f"{len(missing)} input turns without a decision, "
             f"{len(extra)} decisions without an input turn")
    keep = out.column("keep").to_pylist()
    drop = out.column("drop_reason").to_pylist()
    bad = sum(k is not (d is None) for k, d in zip(keep, drop))
    _require(bad == 0, f"{bad} rows where keep disagrees with drop_reason")

    rows = {}
    for f in glob.glob(os.path.join(ckpt_dir, "_progress", "*.json")):
        with open(f) as fh:
            for line in fh:
                r = json.loads(line)
                if r.get("run_id") == run_id and r.get("status") == "done":
                    _require(r["bucket"] not in rows,
                             f"two _progress rows for bucket {r['bucket']}")
                    rows[r["bucket"]] = r
    _require(sorted(rows) == list(range(n_buckets)),
             f"_progress holds buckets {sorted(rows)}, "
             f"expected 0..{n_buckets - 1}")
    for b, part in enumerate(parts):
        r = rows[b]
        n_kept = sum(part.column("keep").to_pylist())
        _require(r["n_rows"] == part.num_rows,
                 f"_progress bucket {b}: n_rows {r['n_rows']} but "
                 f"{part.num_rows} rows written")
        _require(r["n_kept"] == n_kept,
                 f"_progress bucket {b}: n_kept {r['n_kept']} but "
                 f"{n_kept} kept rows written")
        _require(r["n_kept"] + sum(r["drop_reasons"].values()) == r["n_rows"],
                 f"_progress bucket {b}: n_kept + drop_reasons != n_rows")
    total = sum(r["n_rows"] for r in rows.values())
    _require(total == inp.num_rows,
             f"_progress sums to {total} rows, input has {inp.num_rows}")

    _check_sample(inp, out, model, seed, sample)
    return out


def _check_sample(inp: pa.Table, out: pa.Table, model, seed: int,
                  sample: int) -> None:
    from languagedetection_spark.refmodel.quality import decide_turn

    text_in = dict(zip(zip(inp.column("conv_id").to_pylist(),
                           inp.column("turn_idx").to_pylist()),
                       inp.column("text").to_pylist()))
    idx = random.Random(seed).sample(range(out.num_rows),
                                     min(sample, out.num_rows))
    picked = out.take(idx).to_pylist()
    v, tm = model
    for r in picked:
        key = (r["conv_id"], r["turn_idx"])
        _require(r["text"] == text_in[key], f"{key}: text changed")
        gold = decide_turn(r["text"], v, tm)
        for c in DECISION_COLS:
            _require(r[c] == getattr(gold, c),
                     f"{key}: {c} = {r[c]!r}, oracle says "
                     f"{getattr(gold, c)!r}")


def check_exports(out: pa.Table, conv_report_dir: str,
                  table_dir: str) -> None:
    n_convs = len(set(out.column("conv_id").to_pylist()))
    report = read_parquet_dir(conv_report_dir)
    _require(report.num_rows == n_convs,
             f"conv report has {report.num_rows} rows, output has "
             f"{n_convs} conv_ids")
    n_kept = sum(out.column("keep").to_pylist())
    table = read_parquet_dir(table_dir)
    _require(table.num_rows == n_kept,
             f"bucketed table has {table.num_rows} rows, output has "
             f"{n_kept} kept turns")
