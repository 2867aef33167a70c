"""Seeded corpus plus the oracle's expected output digests, cached per
(seed, sf) and per version of the code that makes them, under the
benchmark's work directory.

The transcripts for seed ``s`` are conversations ``b*n .. b*n+n-1`` of
``synth.generator`` (``n`` conversations at scale factor ``sf``, block
``b = s mod SEED_BLOCKS``), written as several parquet files so the scan
splits across cores. The dimensions
are the generator's fixed ``alias_dim`` and ``pred_dim``. The program only
ever sees these parquet files.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import sys

N_FILES = 8
# the generator stamps conversation i at EPOCH + i minutes, and pandas holds
# timestamps only up to 2262: 10,000 blocks of up to 9,000 conversations
# (sf0.3) end in 2197, so any seed, however large or negative, is valid
SEED_BLOCKS = 10_000
# the modules whose code decides the corpus and its expected digests
SOURCES = ("memex_kg_spark.synth.generator", "memex_kg_spark.synth.vocab",
           "memex_kg_spark.oracle.reference_impl", "perfbench.digest",
           "perfbench.corpus")


def source_key() -> str:
    """Short hash of the sources that make a cached corpus: a change to
    the generator, the oracle or the digest starts a new cache entry."""
    import hashlib
    import importlib.util
    h = hashlib.sha256()
    for name in SOURCES:
        with open(importlib.util.find_spec(name).origin, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:12]


def transcript_bytes(corpus_dir: str) -> int:
    return sum(os.path.getsize(p) for p in glob.glob(
        os.path.join(corpus_dir, "transcripts.parquet", "*.parquet")))


def cached_corpus(root: str, seed: int, sf: float) -> tuple[str, dict | None]:
    """Return ``(corpus_dir, meta)``, with ``meta`` None if the corpus is
    not built yet."""
    d = os.path.join(root, f"seed{seed}_sf{sf:g}_{source_key()}")
    meta_path = os.path.join(d, "meta.json")
    if not os.path.exists(meta_path):
        return d, None
    with open(meta_path) as f:
        return d, json.load(f)


def ensure_corpus(root: str, seed: int, sf: float) -> tuple[str, dict]:
    """Return ``(corpus_dir, meta)``; build both on first use.

    ``meta["expected"]`` holds the oracle digests of triples, nodes and
    edges (see ``digest.py``)."""
    d, meta = cached_corpus(root, seed, sf)
    if meta is not None:
        return d, meta

    import numpy as np
    import pandas as pd

    from memex_kg_spark.oracle.reference_impl import run_all
    from memex_kg_spark.synth.generator import (
        build_alias_dim, build_pred_dim, gen_conv_batch, n_convs_for_sf)

    from .digest import digest_frame

    n = n_convs_for_sf(sf)
    first = (seed % SEED_BLOCKS) * n
    tmp = d + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(os.path.join(tmp, "transcripts.parquet"))
    parts = []
    for i, ids in enumerate(np.array_split(
            np.arange(first, first + n), N_FILES)):
        pdf = gen_conv_batch(ids.tolist())
        pdf.to_parquet(os.path.join(tmp, "transcripts.parquet",
                                    f"part-{i:05d}.parquet"), index=False)
        parts.append(pdf)
    alias_dim, pred_dim = build_alias_dim(), build_pred_dim()
    alias_dim.to_parquet(os.path.join(tmp, "alias_dim.parquet"), index=False)
    pred_dim.to_parquet(os.path.join(tmp, "pred_dim.parquet"), index=False)

    transcripts = pd.concat(parts, ignore_index=True)
    ref = run_all(transcripts, alias_dim, pred_dim)
    meta = {
        "seed": seed, "sf": sf, "n_convs": n, "n_turns": len(transcripts),
        "transcript_bytes": transcript_bytes(tmp),
        "expected": {t: digest_frame(ref[t], t)
                     for t in ("triples", "nodes", "edges")},
    }
    with open(os.path.join(tmp, "meta.json"), "w") as f:
        json.dump(meta, f, indent=1)
    shutil.rmtree(d, ignore_errors=True)
    os.rename(tmp, d)
    return d, meta


if __name__ == "__main__":
    # python3 -m perfbench.corpus <root> <seed> <sf>
    ensure_corpus(sys.argv[1], int(sys.argv[2]), float(sys.argv[3]))
