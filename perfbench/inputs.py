"""Seeded benchmark inputs, written to parquet before Spark starts.

Every input comes from ``sources.generator.generate_transcripts`` in
this one process; callers pin Arrow's thread pools to one thread with
``single_threaded()``, so a seed always gives the same bytes. The
program sees only the parquet files. Each file is fingerprinted (rows,
bytes, content hash), so a generator change shows as a new
fingerprint, not as a silent shift of the baseline.
"""

from __future__ import annotations

import contextlib
import hashlib
import os

import numpy as np
import pandas as pd
import pyarrow as pa


@contextlib.contextmanager
def single_threaded():
    """Pin Arrow's CPU and I/O pools to one thread while inputs are made."""
    cpu, io = pa.cpu_count(), pa.io_thread_count()
    pa.set_cpu_count(1)
    pa.set_io_thread_count(1)
    try:
        yield
    finally:
        pa.set_cpu_count(cpu)
        pa.set_io_thread_count(io)


def fingerprint(path: str) -> dict:
    df = pd.read_parquet(path)
    digest = hashlib.sha256(
        pd.util.hash_pandas_object(df, index=False).to_numpy().tobytes())
    return {"rows": int(len(df)), "bytes": os.path.getsize(path),
            "sha256": digest.hexdigest()[:16]}


def _write(df: pd.DataFrame, path: str) -> str:
    df.to_parquet(path, index=False, coerce_timestamps="us",
                  allow_truncated_timestamps=True)
    return path


def transcripts(out_dir: str, n_convs: int, seed: int, **shape):
    """(transcripts path, truth frame) from the package generator."""
    from jaccard_ml_spark.sources.generator import generate_transcripts
    info = generate_transcripts(out_dir, n_convs=n_convs, seed=seed, **shape)
    return info["transcripts"], pd.read_parquet(info["truth_groups"])


def standing_and_delta(out_dir: str, n_standing: int, n_new: int,
                       n_replaced: int, seed: int) -> tuple[str, str]:
    """A standing corpus plus a delta batch for one incremental fold.

    The delta holds ``n_new`` conversations that are not in the
    standing corpus (drawn from the same generated population, so they
    duplicate standing ones) and ``n_replaced`` new texts for existing
    conv_ids: half fresh text, half a copy of another standing
    conversation. Replacements exercise stale-pair invalidation; the
    copies make new pairs across the replaced ids.
    """
    rng = np.random.default_rng(seed)
    tx_path, _ = transcripts(os.path.join(out_dir, "population"),
                             n_standing + n_new, seed)
    tx = pd.read_parquet(tx_path)
    ids = np.array(sorted(tx["conv_id"].unique()))
    new_ids = set(rng.choice(ids, n_new, replace=False))
    standing = tx[~tx["conv_id"].isin(new_ids)]
    standing_ids = np.array(sorted(set(ids) - new_ids))

    replaced = rng.choice(standing_ids, n_replaced, replace=False)
    n_fresh = n_replaced // 2
    fresh_path, _ = transcripts(os.path.join(out_dir, "fresh"), n_fresh,
                                seed + 1, frac_exact=0.0, frac_near=0.0,
                                frac_contain=0.0, frac_hot=0.0)
    fresh = pd.read_parquet(fresh_path)
    fresh["conv_id"] = fresh["conv_id"].map(
        dict(zip(sorted(fresh["conv_id"].unique()), replaced[:n_fresh])))
    sources = rng.choice(np.setdiff1d(standing_ids, replaced),
                         n_replaced - n_fresh, replace=False)
    copies = standing[standing["conv_id"].isin(sources)].copy()
    copies["conv_id"] = copies["conv_id"].map(
        dict(zip(sources, replaced[n_fresh:])))
    delta = pd.concat([tx[tx["conv_id"].isin(new_ids)], fresh, copies],
                      ignore_index=True)
    return (_write(standing, os.path.join(out_dir, "standing.parquet")),
            _write(delta, os.path.join(out_dir, "delta.parquet")))


def substring_docs(out_dir: str, n_pool: int, seed: int,
                   budget: float) -> str:
    """Transcripts of the documents for the substring pass.

    From a pool of three-turn conversations, every turn-prefix plant and
    its source is kept, then further conversations in id order while the
    sum of squared assembled lengths stays within ``budget``. The anchor
    pass costs about that sum (its per-document cost is quadratic in
    length), so the cost is alike across seeds.
    """
    tx_path, truth = transcripts(
        os.path.join(out_dir, "pool"), n_pool, seed, frac_exact=0.1,
        frac_near=0.0, frac_contain=0.15, frac_hot=0.0, min_turns=3,
        max_turns=3)
    tx = pd.read_parquet(tx_path)
    # length of the "\n"-joined conversation
    chars = tx.groupby("conv_id")["text"].agg(
        lambda t: t.str.len().sum() + len(t) - 1)
    plants = truth[truth.kind == "containment"]
    chosen = sorted(set(plants.conv_id) | set(plants.group_id))
    cost = float((chars[chosen] ** 2).sum())
    for conv_id in chars.index.difference(chosen):
        c = float(chars[conv_id]) ** 2
        if cost + c <= budget:
            chosen.append(conv_id)
            cost += c
    return _write(tx[tx["conv_id"].isin(chosen)],
                  os.path.join(out_dir, "substring.parquet"))
