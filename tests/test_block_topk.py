"""The per-block ranked-scoring kernel (``engine._block_topk``) on
hand-made cells and side tables — no Spark session.

Every ranked path runs through this one kernel, so its side-table rules
are pinned here directly: a NULL boost drops a doc even beside a boost
row, ``restrict`` drops docs absent from the side, boosts and the
per-group cap apply BEFORE the top-k cut, a (query_id, block_id) key
re-attaches query_id, and equal scores tie-break on doc_id ascending.
"""

import numpy as np
import pandas as pd

from search_engine_spark.engine import _block_topk, _tfidf_partials
from search_engine_spark.functions.codec import encode_postings

KEY = (0,)


def _cells(*terms):
    """One tf-idf cell per ``(qidx, wqt, {doc_id: (tf, L_d)})``."""
    rows = []
    for qidx, wqt, postings in terms:
        docs = sorted(postings)
        rows.append(
            {
                "block_id": 0,
                "qidx": qidx,
                "wqt": wqt,
                "postings_bin": encode_postings(
                    np.array(docs), np.array([postings[d][0] for d in docs])
                ),
                "weights_bin": np.array(
                    [postings[d][1] for d in docs], dtype="<f8"
                ).tobytes(),
            }
        )
    return pd.DataFrame(rows)


def _side(rows, group=False):
    """Side table from ``(doc_id, boost[, group_key])``; None = NULL."""
    cols = ["doc_id", "boost"] + (["group_key"] if group else [])
    side = pd.DataFrame(rows, columns=cols)
    side["doc_id"] = side["doc_id"].astype("int64")
    side["boost"] = side["boost"].astype("float64")
    return side


# doc d scores 5 - d (tf 1, L_d 1): docs 1..4 rank 1, 2, 3, 4
LADDER = _cells(
    (0, 1.0, {1: (1, 1.0), 2: (1, 1.0), 3: (1, 1.0), 4: (1, 1.0)}),
    (1, 1.0, {1: (1, 1.0), 2: (1, 1.0), 3: (1, 1.0)}),
    (2, 1.0, {1: (1, 1.0), 2: (1, 1.0)}),
    (3, 1.0, {1: (1, 1.0)}),
)


def _ranking(out):
    return list(zip(out["doc_id"].tolist(), out["score"].tolist()))


def test_scores_are_qidx_ordered_tfidf_sums():
    cells = _cells(
        (1, 0.5, {7: (3, 2.0), 9: (1, 4.0)}),
        (0, 2.0, {7: (1, 2.0)}),
    )
    got = _ranking(_block_topk(_tfidf_partials, None)(KEY, cells))
    # numpy's log, as the kernel uses: libm's can differ in the last ulp
    s7 = (2.0 * (1.0 + np.log(1.0)) + 0.5 * (1.0 + np.log(3.0))) / 2.0
    assert got == [(7, s7), (9, 0.5 / 4.0)]


def test_null_boost_drops_doc_even_beside_a_boost_row():
    side = _side([(1, 10.0), (1, None), (3, 2.0)])
    got = _ranking(_block_topk(_tfidf_partials, None)(KEY, LADDER, side))
    assert got == [(3, 4.0), (2, 3.0), (4, 1.0)]


def test_restrict_drops_docs_absent_from_side():
    run = _block_topk(_tfidf_partials, None, restrict=True)
    got = _ranking(run(KEY, LADDER, _side([(2, 1.0), (4, 1.0), (3, None)])))
    assert got == [(2, 3.0), (4, 1.0)]
    assert len(run(KEY, LADDER, _side([]))) == 0


def test_boost_lifts_doc_into_topk():
    run = _block_topk(_tfidf_partials, 2)
    assert _ranking(run(KEY, LADDER)) == [(1, 4.0), (2, 3.0)]
    got = _ranking(run(KEY, LADDER, _side([(4, 10.0)])))
    assert got == [(4, 10.0), (1, 4.0)]


def test_per_group_cap_applies_before_k():
    side = _side(
        [(1, 1.0, "a"), (2, 1.0, "a"), (3, 1.0, "a"), (4, 1.0, "b")], group=True
    )
    out = _block_topk(_tfidf_partials, 2, restrict=True, per_group=1)(
        KEY, LADDER, side
    )
    assert list(out.columns) == ["doc_id", "group_key", "score"]
    assert out["doc_id"].tolist() == [1, 4]
    assert out["group_key"].tolist() == ["a", "b"]


def test_query_block_key_reattaches_query_id():
    run = _block_topk(_tfidf_partials, 3)
    out = run((7, 0), LADDER)
    assert list(out.columns) == ["query_id", "doc_id", "score"]
    assert out["query_id"].tolist() == [7, 7, 7]
    assert out["doc_id"].tolist() == [1, 2, 3]
    empty = run((7, 0), LADDER.iloc[:0], _side([(1, None)]))
    assert list(empty.columns) == ["query_id", "doc_id", "score"]
    assert len(empty) == 0


def test_equal_scores_tie_break_on_doc_id():
    cells = _cells((0, 1.0, {9: (2, 1.0), 3: (2, 1.0), 5: (2, 1.0), 1: (1, 1.0)}))
    got = _block_topk(_tfidf_partials, 3)(KEY, cells)
    assert got["doc_id"].tolist() == [3, 5, 9]
