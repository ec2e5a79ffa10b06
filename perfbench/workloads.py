"""Seeded workload inputs for the job benchmark, plus their input profiles.

Every workload's input is a function of (workload, seed) only.  Inputs are
written as a Parquet directory of ``N_PARTS`` files (contiguous conv ranges,
so one file is one scan task at local[4]) under the checkout's
``.bench_cache/`` and reused when the same (workload, seed) comes again.
"""

from __future__ import annotations

import collections
import hashlib
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from languagedetection_spark.fixtures.generate import (
    _PII_SNIPPETS, gen_lexicons, gen_transcripts,
)
from languagedetection_spark.functions.kernels import FilterModel
from languagedetection_spark.refmodel.alphabets import (
    ALPHABET, DEAD_LANGUAGES, LANGUAGES, PER_CHAR_LANGUAGES,
)

N_PARTS = 8
SYNTH_CONVS = 4_000           # x 16 turns ~= 62k turns
SYNTH_AVG_TURNS = 16
LONGTAIL_CONVS = 3_000
LONGTAIL_AVG_TURNS = 8        # ~23k turns of ~780 chars
LONGTAIL_WORDS = (60, 200)
LONGTAIL_LEXICON_SHARE = 0.7
LONGTAIL_PII_SHARE = 0.5
PROFILE_SCRUB_TURNS = 5_000

# workload -> (generator name, --buckets of the job)
WORKLOADS = {
    "longtail-b1": ("longtail", 1),
    "resume-export": ("synth", 3),
}

SCHEMA = pa.schema([
    ("conv_id", pa.string()), ("turn_idx", pa.int32()), ("role", pa.string()),
    ("text", pa.string()), ("tool", pa.string()),
    ("ts", pa.timestamp("us", tz="UTC")),
])


def synth_rows(seed: int) -> list[dict]:
    """The repository's synthetic transcripts, a third of the re-anchor
    input (12,000 convs)."""
    return gen_transcripts(seed=seed, n_convs=SYNTH_CONVS,
                           avg_turns=SYNTH_AVG_TURNS)


def longtail_rows(seed: int) -> list[dict]:
    """Long turns (60-200 words): ~70% words from the model's lexicon, ~30%
    fresh words drawn from the turn language's alphabet, and a PII/toxicity
    snippet on about half of the turns."""
    import datetime as dt

    rng = np.random.default_rng([seed, 1])
    lexicons = gen_lexicons()          # the lexicon the default model saw
    langs = [l for l in LANGUAGES if l not in DEAD_LANGUAGES and lexicons[l]]
    conv_sizes = np.maximum(1, rng.normal(
        LONGTAIL_AVG_TURNS, LONGTAIL_AVG_TURNS * 0.5, LONGTAIL_CONVS,
    ).astype(int))
    n = int(conv_sizes.sum())
    turn_lang = rng.integers(0, len(langs), n)
    n_words = rng.integers(LONGTAIL_WORDS[0], LONGTAIL_WORDS[1] + 1, n)
    pii = rng.random(n) < LONGTAIL_PII_SHARE
    pii_pick = rng.integers(0, len(_PII_SNIPPETS), n)
    texts: list[str] = [""] * n
    for li, lang in enumerate(langs):
        turns = np.flatnonzero(turn_lang == li)
        k = n_words[turns]
        w = int(k.sum())
        per_char = lang in PER_CHAR_LANGUAGES
        words = np.array(lexicons[lang], dtype=object)[
            rng.integers(0, len(lexicons[lang]), w)]
        fresh = np.flatnonzero(rng.random(w) >= LONGTAIL_LEXICON_SHARE)
        lens = rng.integers(1, 4, len(fresh)) if per_char \
            else rng.integers(3, 10, len(fresh))
        alpha = np.array(sorted(ALPHABET[lang]))
        pool = "".join(alpha[rng.integers(0, len(alpha), int(lens.sum()))])
        ends = np.cumsum(lens)
        words[fresh] = [pool[e - m:e] for e, m in zip(ends.tolist(),
                                                      lens.tolist())]
        words = words.tolist()
        sep = "" if per_char else " "
        bounds = np.concatenate([[0], np.cumsum(k)]).tolist()
        for j, t in enumerate(turns.tolist()):
            text = sep.join(words[bounds[j]:bounds[j + 1]])
            texts[t] = text + " " + _PII_SNIPPETS[pii_pick[t]] if pii[t] \
                else text
    t0 = dt.datetime(2026, 1, 1, tzinfo=dt.timezone.utc)
    rows, t = [], 0
    for ci, size in enumerate(conv_sizes.tolist()):
        for ti in range(size):
            rows.append({
                "conv_id": f"lt-{ci:08d}", "turn_idx": ti,
                "role": ("user", "assistant")[ti % 2], "text": texts[t],
                "tool": "", "ts": t0 + dt.timedelta(seconds=t),
            })
            t += 1
    return rows


GENERATORS = {"synth": synth_rows, "longtail": longtail_rows}


def profile(rows: list[dict], input_bytes: int) -> dict:
    """Properties of an input that later claims can cite the share of."""
    texts = [r["text"] for r in rows]
    distinct: set[str] = set()
    n_tokens = 0
    for x in texts:
        toks = x.lower().split()
        n_tokens += len(toks)
        distinct.update(toks)
    scrub = FilterModel({}, {}, {}).scrub
    scrubbed = texts[::max(1, len(texts) // PROFILE_SCRUB_TURNS)]
    sizes = collections.Counter(r["conv_id"] for r in rows)
    size_vals = sorted(sizes.values())
    return {
        "turns": len(rows),
        "bytes": input_bytes,
        "mean_chars_per_turn": round(sum(map(len, texts)) / len(texts), 2),
        "distinct_token_ratio": round(len(distinct) / max(1, n_tokens), 4),
        # on every k-th turn, at most PROFILE_SCRUB_TURNS of them
        "scrub_rewrite_share": round(
            sum(scrub(x) != x for x in scrubbed) / len(scrubbed), 4),
        "convs": len(sizes),
        # largest conv over the median conv
        "conv_size_skew": round(size_vals[-1] / size_vals[len(size_vals) // 2], 2),
    }


def write_parts(rows: list[dict], out_dir: str) -> int:
    """Write ``rows`` as N_PARTS Parquet files split at conv boundaries."""
    table = pa.Table.from_pylist(rows, schema=SCHEMA)
    os.makedirs(out_dir)
    conv = table.column("conv_id").to_pylist()
    n, bounds = len(conv), [0]
    for k in range(1, N_PARTS):
        b = max(bounds[-1], k * n // N_PARTS)
        while 0 < b < n and conv[b] == conv[b - 1]:
            b += 1
        bounds.append(b)
    bounds.append(n)
    total = 0
    for k in range(N_PARTS):
        path = os.path.join(out_dir, f"part-{k:05d}.parquet")
        pq.write_table(table.slice(bounds[k], bounds[k + 1] - bounds[k]), path)
        total += os.path.getsize(path)
    return total


def _generator_digest() -> str:
    """Changes whenever the code that generates the inputs changes."""
    from languagedetection_spark.fixtures import generate

    h = hashlib.sha256()
    for path in (__file__, generate.__file__):
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:12]


def materialize(workload: str, seed: int, cache_root: str) -> tuple[str, dict]:
    """(input dir, profile) for a workload, generated once per seed and
    generator version."""
    gen, _ = WORKLOADS[workload]
    base = os.path.join(cache_root, f"{gen}-{seed}-{_generator_digest()}")
    data, prof_path = os.path.join(base, "data"), os.path.join(base, "profile.json")
    if not os.path.exists(prof_path):
        shutil.rmtree(base, ignore_errors=True)
        rows = GENERATORS[gen](seed)
        prof = profile(rows, write_parts(rows, data))
        with open(prof_path + ".tmp", "w") as f:
            json.dump(prof, f)
        os.replace(prof_path + ".tmp", prof_path)
    with open(prof_path) as f:
        return data, json.load(f)


def read_input(data_dir: str) -> pa.Table:
    return pq.read_table(data_dir, schema=SCHEMA)
