"""Pinned pipeline configuration.

The reference fixes its semantics at compile time (templates + CMake flags,
``/root/reference/src/config.h.in:1-9``) and its tuning grid in
``parameters/experiment.json``. Our analog is one frozen dataclass: the
"same shingle/signature config" that BASELINE.json requires for oracle
comparisons. Every stage takes the config explicitly — no globals.
"""

from __future__ import annotations

from dataclasses import asdict, dataclass, field


@dataclass(frozen=True)
class DedupConfig:
    """Frozen knobs for the dedup pipeline (FIXTURES.md §4 defaults)."""

    # --- shingling ---------------------------------------------------
    k_shingle: int = 5            # token k-grams
    # --- MinHash / LSH ----------------------------------------------
    # (b=16, r=6) instead of the naive (32, 4): recall at the J=0.8
    # threshold is 1-(1-0.8^6)^16 = 0.992 (≥ the 0.99 gate), while the
    # false-candidate rate at J≈0.16 (boilerplate-sharing convs — the
    # hot-clique pathology) drops ~75×, killing a measured quadratic
    # candidate blowup. This is the reference's stats-driven parameter
    # selection (ml_model.py) applied to banding.
    num_perm: int = 96            # MinHash permutations
    bands: int = 16               # LSH bands
    rows_per_band: int = 6        # rows per band (bands * rows == num_perm)
    jaccard_threshold: float = 0.8
    minhash_seed: int = 42
    # --- skew handling (the degree-binning analog, SURVEY §4.4) ------
    # buckets with more than `salt_threshold_c0` members are "hot" (the
    # deg>=1024 tail of the reference's degree histogram,
    # /root/reference/src/utils.cuh:340-346) and get salted pairing;
    # buckets above `band_split_c1` are re-hashed with wider bands.
    salt_threshold_c0: int = 64
    salt_factor: int = 8
    band_split_c1: int = 4096
    band_split_extra_rows: int = 4
    # --- SimHash ------------------------------------------------------
    simhash_bits: int = 64
    simhash_hamming_max: int = 3
    # --- connected components ----------------------------------------
    cc_max_iterations: int = 50
    # --- shingle implementation ---------------------------------------
    # "arrow" pandas-UDF numpy path (functions/shingle_arrow.py) — the
    #         default: measured 1.7× faster single-stream than the JVM
    #         expression path AND it scales with task threads (each
    #         Python worker is its own process/heap), while the JVM
    #         path collapses at high thread counts in a shared JVM
    #         (measured 94s→226s from local[4]→local[16] at 1.9M turns:
    #         per-shingle UTF8String allocation saturates the single
    #         allocator; on a multi-executor cluster with few cores per
    #         JVM either path scales).
    # "jvm"   pure Catalyst expressions (functions/text.py) — kept for
    #         clusters with small executors and as the SQL-mirrorable
    #         reference implementation.
    shingle_impl: str = "arrow"
    # --- misc ----------------------------------------------------------
    text_separator: str = "\n"    # turn joiner for conversation assembly

    def __post_init__(self) -> None:
        if self.bands * self.rows_per_band != self.num_perm:
            raise ValueError(
                f"bands*rows_per_band must equal num_perm "
                f"({self.bands}*{self.rows_per_band} != {self.num_perm})"
            )
        if not (0.0 < self.jaccard_threshold <= 1.0):
            raise ValueError("jaccard_threshold must be in (0, 1]")

    def to_dict(self) -> dict:
        return asdict(self)

    @property
    def candidate_probability(self):
        """P(pair becomes LSH candidate | true Jaccard = t) = 1-(1-t^r)^b."""
        t = self.jaccard_threshold
        return 1.0 - (1.0 - t ** self.rows_per_band) ** self.bands


DEFAULT_CONFIG = DedupConfig()
