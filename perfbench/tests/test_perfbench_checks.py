import numpy as np

from checks import nearest_list, probed_lists, ranked, retrieval_metrics, topk_matches


def test_topk_matches_accepts_exact_answer_and_rejects_wrong_ones():
    ids = np.array(["d1", "d2", "d3", "d4"])
    scores = np.array([0.5, 0.9, 0.9, 0.1])
    good = [("d2", 0.9), ("d3", 0.9), ("d1", 0.5)]
    assert ranked(ids, scores, 3) == ["d2", "d3", "d1"]
    assert topk_matches(good, ids, scores, 3) is None
    # tie broken by descending id
    assert "order" in topk_matches([("d3", 0.9), ("d2", 0.9), ("d1", 0.5)], ids, scores, 3)
    # a lower-scoring doc in place of a higher one
    assert topk_matches([("d2", 0.9), ("d3", 0.9), ("d4", 0.1)], ids, scores, 3)
    # wrong score, wrong length, duplicate, unknown id
    assert topk_matches([("d2", 0.8), ("d3", 0.8), ("d1", 0.5)], ids, scores, 3)
    assert topk_matches(good[:2], ids, scores, 3)
    assert topk_matches([("d2", 0.9), ("d2", 0.9), ("d1", 0.5)], ids, scores, 3)
    assert topk_matches([("d2", 0.9), ("d3", 0.9), ("d9", 0.5)], ids, scores, 3)
    # near-ties within the tolerance may swap at the k-th place
    near = np.array([0.5, 0.9, 0.5 + 1e-12, 0.1])
    assert topk_matches([("d2", 0.9), ("d1", 0.5)], ids, near, 2) is None


def test_ivf_lists_follow_cosine_with_lowest_cent_id_on_ties():
    C = np.array([[1.0, 0.0], [0.0, 1.0], [1.0, 0.0]])
    cids = np.array([0, 1, 2])
    D = np.array([[2.0, 0.1], [0.1, 3.0], [1.0, 1.0]])
    assert nearest_list(D, cids, C).tolist() == [0, 1, 0]
    assert probed_lists(np.array([1.0, 0.2]), cids, C, 2) == {0, 2}


def test_retrieval_metrics_recompute():
    retrieved = {"q1": ["a", "b", "c"], "q2": ["x", "y"]}
    qrels = {"q1": {"b"}, "q2": {"z"}}
    m = retrieval_metrics(retrieved, qrels, (1, 3))
    assert m["p_at_1"] == 0.0
    assert m["p_at_3"] == (1 / 3 + 0 / 2) / 2
    assert m["r_at_3"] == 0.5
    assert m["map"] == (0.5 + 0.0) / 2
