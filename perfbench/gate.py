"""Correctness gate: an order-independent digest of the ``triples`` table.

The digest covers (subj, pred, obj, conv_id, turn_idx).  The expected
digest for a (corpus, seed) comes from ``golden_digests.json`` when the
seed is one of the default seeds, else from the pandas oracle
(``kartograph_spark.oracle.oracle.oracle_triples``), computed once outside
timing and cached under ``perfbench/.cache``.

Regenerate the golden digests (after an intended output change) with
``python3 -m perfbench.gate`` from the repository root.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil

import pandas as pd

from perfbench import workloads

KEY_COLS = ["subj", "pred", "obj", "conv_id", "turn_idx"]
HERE = os.path.dirname(os.path.abspath(__file__))
GOLDEN = os.path.join(HERE, "golden_digests.json")
CACHE_DIR = os.path.join(HERE, ".cache")
DEFAULT_SEEDS = range(1, 41)


def digest(df: pd.DataFrame) -> str:
    """sha256 over the sorted key rows: the same multiset of rows gives
    the same digest in any order and any integer dtype of turn_idx."""
    rows = sorted(
        "\x1f".join((str(s), str(p), str(o), str(c), str(int(t))))
        for s, p, o, c, t in df[KEY_COLS].itertuples(index=False)
    )
    return hashlib.sha256("\n".join(rows).encode()).hexdigest()


def read_triples(out_dir: str) -> pd.DataFrame:
    """The run's ``triples`` table, read without Spark (no extra jobs)."""
    return pd.read_parquet(os.path.join(out_dir, "triples"), columns=KEY_COLS)


def oracle_digest(inputs_dir: str) -> str:
    from kartograph_spark.oracle.oracle import oracle_triples

    tr = pd.read_parquet(os.path.join(inputs_dir, "transcripts.parquet"))
    al = pd.read_parquet(os.path.join(inputs_dir, "alias_dictionary.parquet"))
    return digest(oracle_triples(tr, al))


def _load(path: str) -> dict:
    if not os.path.exists(path):
        return {}
    with open(path) as f:
        return json.load(f)


def expected_digest(key: str, inputs_dir: str) -> str:
    """Golden digest if ``key`` has one, else the cached oracle digest,
    else the oracle (computed now and cached)."""
    golden = _load(GOLDEN).get(key)
    if golden:
        return golden
    cache = os.path.join(CACHE_DIR, f"{key}.json")
    cached = _load(cache).get("digest")
    if cached:
        return cached
    d = oracle_digest(inputs_dir)
    os.makedirs(CACHE_DIR, exist_ok=True)
    tmp = cache + ".tmp"
    with open(tmp, "w") as f:
        json.dump({"digest": d}, f)
    os.replace(tmp, cache)
    return d


def check(out_dir: str, expected: str) -> bool:
    """True when the run's triples table matches the expected digest."""
    try:
        return digest(read_triples(out_dir)) == expected
    except (OSError, ValueError, KeyError):
        return False


def write_golden(work_dir: str) -> dict:
    """Oracle digests for the default seeds of both corpus shapes."""
    out = {}
    for wl in ("full_build", "wide_vocab_build"):
        for seed in DEFAULT_SEEDS:
            workloads.write_inputs(wl, seed, work_dir)
            out[workloads.corpus_key(wl, seed)] = oracle_digest(work_dir)
    shutil.rmtree(work_dir)
    with open(GOLDEN, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")
    return out


if __name__ == "__main__":
    write_golden(os.path.join(HERE, ".work", "golden"))
