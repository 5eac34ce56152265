"""No operator keeps results across calls: run an operator on a parquet
input, rewrite the parquet behind the same path, run it again in the
same session. The second run must return the rows of the new files,
exactly as a never-seen copy of them gives, and nothing may be left
in Spark's cache."""

from datetime import datetime, timedelta

import pytest

from fossil_spark.operators import ann, dedup, graph, text
from fossil_spark.operators import timeseries as ts

_DOCS = "doc_id long, text string"
_A = "the quick brown fox jumps over the lazy dog again and again"
_B = "completely different text with nothing shared at all here"
_C = "zebra yak xylophone walrus vulture umbrella tiger"
_D = "lorem ipsum dolor sit amet consectetur adipiscing elit"
# near-dup pair (0, 1) before the rewrite, (2, 3) after it
_DUP_DOCS = ([(0, _A), (1, _A), (2, _B), (3, _C)],
             [(0, _C), (1, _B), (2, _D), (3, _D)])

_EMB = "vec_id long, embedding array<double>"
_E = [1.0, 0.0, 0.0, 0.0]
# each query's nearest neighbour changes with the rewrite
_EMB_ROWS = (
    list(enumerate([
        _E, [0.9, 0.1, 0.0, 0.0], [0.0, 1.0, 0.0, 0.0],
        [0.0, 0.9, 0.1, 0.0], [0.0, 0.0, 1.0, 0.0], [0.0, 0.0, 0.0, 1.0],
    ])),
    list(enumerate([
        _E, [0.0, 0.0, 1.0, 0.0], [0.9, 0.1, 0.0, 0.0],
        [0.0, 0.0, 0.9, 0.1], [0.0, 1.0, 0.0, 0.0], [0.0, 0.0, 0.0, 1.0],
    ])),
)


def _events(sign: float) -> list:
    base = datetime(2024, 3, 1)
    return [
        (i, "k", base + timedelta(hours=i), sign * (i + (i % 3) * 0.5))
        for i in range(8)
    ]


def _label_prop(pairs):
    seeds = pairs.sparkSession.createDataFrame(
        [(1, "a"), (10, "b")], "doc_id long, label string"
    )
    return graph.label_propagation(pairs, seeds, n_rounds=2)


# operator -> (schema, (rows before, rows after the rewrite), run,
# a property the rows after the rewrite must have)
_CASES = {
    "minhash_lsh_pairs": (
        _DOCS, _DUP_DOCS, dedup.minhash_lsh_pairs,
        lambda rows: [(2, 3)] == [(r[0], r[1]) for r in rows],
    ),
    "neardup_components": (
        _DOCS, _DUP_DOCS, dedup.neardup_components,
        lambda rows: {r[0] for r in rows} == {2, 3},
    ),
    "cosine_topk": (
        _EMB, _EMB_ROWS,
        lambda e: ann.cosine_topk(e, e.filter("vec_id < 2"), k=1),
        lambda rows: {(r[0], r[1]) for r in rows} == {(0, 2), (1, 3)},
    ),
    "kmeans_cluster": (
        _EMB,
        (list(enumerate([[1.0, 0.0], [0.9, 0.1], [0.0, 1.0], [0.1, 0.9]])),
         list(enumerate([[0.0, 1.0], [1.0, 0.0], [0.05, 0.95],
                         [0.95, 0.05]]))),
        lambda e: ann.kmeans_cluster(e, k=2, n_iter=1),
        # vec 0 and 2 now point the same way and co-cluster
        lambda rows: (lambda d: d[0] == d[2] != d[1] == d[3])(
            {r[0]: r[1] for r in rows}
        ),
    ),
    "pq_ann": (
        _EMB, _EMB_ROWS,
        # rerank_factor=5 reranks every other vector: exact top-1
        lambda e: ann.pq_ann(e, e.filter("vec_id < 2"), k=1, m=2,
                             n_cents=2, n_iter=1, rerank_factor=5),
        lambda rows: {(r[0], r[1]) for r in rows} == {(0, 2), (1, 3)},
    ),
    "kcenter_select": (
        _EMB, _EMB_ROWS,
        lambda e: ann.kcenter_select(e, k=3),
        lambda rows: [r[1] for r in rows] == [0, 1, 4],
    ),
    "label_propagation": (
        "doc_a long, doc_b long",
        ([(1, 2), (2, 3), (10, 11)], [(1, 11), (2, 10), (3, 10)]),
        _label_prop,
        lambda rows: {r[0]: r[1] for r in rows}
        == {1: "a", 2: "b", 3: "b", 10: "b", 11: "a"},
    ),
    "bpe_train": (
        _DOCS,
        ([(0, "low lower lowest"), (1, "low low newer"),
          (2, "wider new newer")],
         [(0, "zz zz zzz"), (1, "zz zzz zzzz"), (2, "zzzz zz")]),
        lambda d: text.bpe_train(d, n_merges=3),
        # 'zz' is the new top pair
        lambda rows: (rows[0][1], rows[0][2]) == ("z", "z"),
    ),
    "theil_sen_trend": (
        "event_id long, event_type string, ts timestamp, value double",
        (_events(1.0), _events(-1.0)),
        lambda ev: ts.theil_sen_trend(ev, every="1 hour", time_col="ts",
                                      by=["event_type"]),
        lambda rows: rows[0][2] < 0,  # the slope turned negative
    ),
}


@pytest.mark.parametrize("op", list(_CASES))
def test_rewritten_input_is_read_fresh(spark, tmp_path, op):
    schema, (before, after), run, holds = _CASES[op]

    def write(path, rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(path)

    def result(path):
        return sorted(map(tuple, run(spark.read.parquet(path)).collect()))

    path = str(tmp_path / "input.parquet")
    spark.catalog.clearCache()
    write(path, before)
    first = result(path)
    write(path, after)
    second = result(path)
    fresh_path = str(tmp_path / "fresh.parquet")
    write(fresh_path, after)
    assert second == result(fresh_path)
    assert second != first
    assert holds(second), second
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
