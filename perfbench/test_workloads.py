"""The seeded inputs match the engine's own generator and oracle.

    python -m pytest perfbench/test_workloads.py -q
"""

import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), HERE]
import workloads  # noqa: E402
from datasketches_spark.kernels import shingles  # noqa: E402


def test_corpus_rows_equal_generate_corpus():
    from datasketches_spark.session import get_spark
    from datasketches_spark.sources.corpus import generate_corpus

    spark = get_spark("perfbench-test", cores=2, driver_mem="1g")
    try:
        got = [workloads.corpus_row(7, i) for i in range(60)]
        want = [tuple(r) for r in generate_corpus(spark, 60, seed=7).orderBy("id").collect()]
        assert got == want
    finally:
        spark.stop()


def test_jaccard_equals_exact_jaccard():
    texts = {i: workloads.corpus_row(3, i)[5] for i in (14, 15, 16, 17, 19)}
    rows, _, _ = workloads._repo_mix(3, 100)
    texts[40] = rows[100][5]  # a long file
    texts[41] = texts[40].replace("v1", "w1")
    sets = workloads._shingle_sets(texts)
    for x, y in [(14, 16), (14, 17), (16, 17), (14, 19), (40, 41)]:
        assert workloads.jaccard(sets[x], sets[y]) == pytest.approx(
            shingles.exact_jaccard(texts[x], texts[y], 5), abs=0)


def test_inputs_are_deterministic():
    a = workloads._fork_heavy(5, 300)
    b = workloads._fork_heavy(5, 300)
    assert a[0] == b[0] and a[1] == b[1]
    truth = a[1]
    assert truth and all(j >= workloads.CFG.jaccard_threshold for _, _, j in truth)
