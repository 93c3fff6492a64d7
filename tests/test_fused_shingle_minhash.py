"""The fused shingle+MinHash Arrow pass must be bit-identical to the
two-step UDF path — it exists purely to remove one JVM↔Python round
trip of the element arrays (the pipeline's widest column), never to
change a value. Kernels are shared by construction
(functions/shingle_arrow.py:fused_shingle_minhash), but the wiring
(schema, null handling for empty sets, set_size) is asserted here.

Reference analog: fusing hash generation into the bucket-scatter CUDA
kernel instead of materializing intermediates twice through global
memory (/root/reference/src/main.cu batching loop).
"""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from jaccard_ml_spark.config import DedupConfig
from jaccard_ml_spark.functions.shingle_arrow import (
    add_shingle_hash_sets_arrow,
    fused_shingle_minhash,
)
from jaccard_ml_spark.operators.candidates import minhash_signatures

CFG = DedupConfig()


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        ("d1", "the quick brown fox jumps over the lazy dog again and "
               "again until the corpus has enough tokens to shingle"),
        ("d2", "the quick brown fox jumps over the lazy dog again and "
               "again until the corpus has enough tokens to shingle"),
        ("d3", "an entirely different conversation about spark shuffle "
               "partitions and adaptive query execution at scale"),
        ("d4", ""),                      # empty text → empty set
        ("d5", None),                    # null text → empty set
        ("d6", "short text"),            # fewer tokens than k → 1 gram
        ("d7", "Unicode KKelvin sign forces the fallback path "
               "with enough words to make several shingles here"),
    ]
    return spark.createDataFrame(rows, "id string, text string")


def test_fused_equals_two_step(docs):
    sets2 = add_shingle_hash_sets_arrow(docs, "text", CFG.k_shingle)
    two_sets = {r.id: list(r.items) for r in
                sets2.select("id", "items").collect()}
    two_sigs = {r.id: (r.set_size, list(r.signature))
                for r in minhash_signatures(
                    sets2.select("id", "items"), CFG).collect()}

    fused = fused_shingle_minhash(docs, "text", CFG.k_shingle,
                                  CFG.num_perm, CFG.minhash_seed)
    got = {r.id: r for r in fused.collect()}

    assert set(got) == set(two_sets)
    for i, items in two_sets.items():
        assert list(got[i].items) == items, i
        assert got[i].set_size == len(items), i
        if i in two_sigs:
            assert got[i].set_size == two_sigs[i][0], i
            assert list(got[i].signature) == two_sigs[i][1], i
        else:
            # empty set: no signature row in the two-step path → the
            # fused row must carry a NULL signature (never buckets)
            assert got[i].signature is None, i


def test_fused_pipeline_caches_once(spark):
    """The fused pipeline persists ONE table below the UDF: the fused
    (items+signature) cache. A second signature persist inside
    candidate_pairs would double-cache ~1 KB/conversation and re-split
    the storage tier the caller pinned."""
    from jaccard_ml_spark.plans.pipeline import dedup_documents

    rows = [(f"d{i}", f"token{i % 7} alpha beta gamma delta epsilon "
             f"zeta eta theta iota kappa word{i % 5} and more filler "
             f"so every document clears the shingle width")
            for i in range(60)]
    docs = spark.createDataFrame(rows, "doc_id string, text string")
    spark.catalog.clearCache()
    res = dedup_documents(docs, CFG)
    res.pairs.count()

    # Count the cached relations reachable from the pair plan whose
    # OWN materialization runs a Python/Arrow exec node (traversal
    # stops at nested cache boundaries — a downstream cache that merely
    # SCANS the fused cache, like candidate_pairs' grouped-bucket
    # table, references its plan text but runs no UDF itself; the old
    # RDD-name string match counted those too on some Spark versions).
    # Exactly ONE such cache must exist: the fused MapInPandas table.
    # The two-step path cached the UDF output twice — sets (shingles)
    # AND signatures (minhash over the sets scan).
    PY_EXECS = ("MapInPandasExec", "ArrowEvalPythonExec",
                "BatchEvalPythonExec")

    def _runs_python(node) -> bool:
        name = node.getClass().getSimpleName()
        if name == "InMemoryTableScanExec":
            return False  # another cache's job, not this one's
        if name in PY_EXECS:
            return True
        if name == "AdaptiveSparkPlanExec":
            return _runs_python(node.inputPlan())
        it = node.children().iterator()
        while it.hasNext():
            if _runs_python(it.next()):
                return True
        return False

    python_caches: dict[int, bool] = {}

    def _walk(node) -> None:
        name = node.getClass().getSimpleName()
        if name == "InMemoryTableScanExec":
            cached = node.relation().cachedPlan()
            if cached.id() not in python_caches:
                python_caches[cached.id()] = _runs_python(cached)
                _walk(cached)
            return
        if name == "AdaptiveSparkPlanExec":
            _walk(node.inputPlan())
            return
        it = node.children().iterator()
        while it.hasNext():
            _walk(it.next())

    _walk(res.pairs._jdf.queryExecution().executedPlan())
    n_python = sum(1 for v in python_caches.values() if v)
    assert n_python == 1, python_caches
    res.release()
    spark.catalog.clearCache()
