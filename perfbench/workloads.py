"""Seeded benchmark inputs: the transcripts and alias-dictionary tables.

``full_build`` and ``noop_resume`` share the default ``synth`` corpus shape
(scaled down, see README.md).  ``wide_vocab_build`` adds a Zipf-drawn
entity vocabulary on top of it with planted dictionary re-links, so that
canonicalization (connected components, broadcast rewrites, the alias
``toPandas``) scales with the corpus instead of being fixed overhead.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd

from kartograph_spark import synth

#: conversations per corpus: ~10.5k turns (2 long conversations of 500
#: turns plus Poisson(24) turns each for the rest)
N_CONV = 400

#: wide vocabulary: distinct tool ids, Zipf exponent over their ranks,
#: share of turns that mention one, and share of ids the dictionary re-links
VOCAB = 100_000
ZIPF_S = 1.0
MENTION_SHARE = 0.6
RELINK_SHARE = 0.75

WORKLOADS = ("full_build", "wide_vocab_build", "noop_resume")


def vocab_name(i: int) -> str:
    """Surface form of vocabulary id ``i``: 'Zv-00042' extracts as the
    Tool URN ``urn:Tool:zv-00042`` with blocking key 'zv 00042'."""
    return f"Zv-{i:05d}"


def wide_vocab_inputs(seed: int) -> tuple[pd.DataFrame, pd.DataFrame]:
    """The synth corpus plus a Zipf tool mention on ``MENTION_SHARE`` of
    turns, and an alias dictionary that re-links ``RELINK_SHARE`` of the
    vocabulary to a Service canonical (``urn:Service:zv-00042``).

    Each mentioned, re-linked id becomes one ``canonical_map`` merge, the
    same way synth plants ``Payment-API`` -> ``urn:Service:payment-api``.
    """
    tr = synth.gen_transcripts(n_conv=N_CONV, seed=seed)
    al = synth.gen_alias_dictionary(seed=seed)
    rng = np.random.default_rng([seed, 1])
    ranks = np.arange(1, VOCAB + 1, dtype=np.float64)
    p = ranks**-ZIPF_S
    p /= p.sum()
    # a random rank -> id permutation: popular ids are spread over the
    # id space, so relinked and unlinked ids are both popular
    ids = rng.permutation(VOCAB)
    hit = rng.random(len(tr)) < MENTION_SHARE
    drawn = ids[rng.choice(VOCAB, size=int(hit.sum()), p=p)]
    suffix = np.array([f" It uses {vocab_name(i)} for lookups." for i in drawn], dtype=object)
    text = tr["text"].to_numpy(dtype=object).copy()
    text[hit] = text[hit] + suffix
    tr = tr.assign(text=text)

    relinked = np.flatnonzero(rng.random(VOCAB) < RELINK_SHARE)
    extra = pd.DataFrame(
        {
            "alias_norm": [f"zv {i:05d}" for i in relinked],
            "canonical_urn": [f"urn:Service:zv-{i:05d}" for i in relinked],
            "entity_type": "Service",
            "canonical_name": [vocab_name(i) for i in relinked],
        }
    )
    return tr, pd.concat([al, extra], ignore_index=True)


def write_inputs(workload: str, seed: int, out_dir: str) -> dict:
    """Write ``transcripts.parquet`` and ``alias_dictionary.parquet`` for
    (workload, seed) into ``out_dir``; returns their row counts."""
    if workload not in WORKLOADS:
        raise ValueError(f"unknown workload {workload!r}; choose from {WORKLOADS}")
    os.makedirs(out_dir, exist_ok=True)
    if workload != "wide_vocab_build":
        st = synth.write_corpus(out_dir, n_conv=N_CONV, seed=seed)
        return {"turns": st["turns"], "aliases": st["aliases"]}
    tr, al = wide_vocab_inputs(seed)
    # same file layout as synth.write_corpus for a corpus this size
    tr.to_parquet(os.path.join(out_dir, "transcripts.parquet"), index=False, row_group_size=8192)
    al.to_parquet(os.path.join(out_dir, "alias_dictionary.parquet"), index=False)
    return {"turns": len(tr), "aliases": len(al)}


def corpus_key(workload: str, seed: int) -> str:
    """Identity of the generated inputs: noop_resume reads full_build's."""
    shape = "wide" if workload == "wide_vocab_build" else "synth"
    return f"{shape}-{synth.CORPUS_TAG}-n{N_CONV}-s{seed}"
