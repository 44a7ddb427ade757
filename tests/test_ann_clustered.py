"""ANN quality on a CLUSTERED embedding fixture (round-4 verdict ask:
s8's 0.20 recall on near-uniform vectors cannot demonstrate the
operator — on uniform vectors 4-bit PQ codes are noise by construction).

On a mixture-of-Gaussians corpus (tools/make_clustered_fixture.py) the
quantizers must actually retrieve: trained PQ + exact re-rank (s8) and
trained IVF (s7) both >= 0.8 recall@5, and training must separate from
the untrained md5 codebook (s7 >= s3). Ground truth is numpy brute
force — independent of every engine code path under test.
"""

from __future__ import annotations

import pytest

from tools.make_clustered_fixture import exact_topk, write_clustered_embeddings

N_FIXTURE = 1024


@pytest.fixture(scope="module")
def clustered_dir(tmp_path_factory):
    out = str(tmp_path_factory.mktemp("clustered_sf"))
    write_clustered_embeddings(out, n=N_FIXTURE)
    return out


def _recall_at_5(spark, sf_dir: str, query_name: str) -> float:
    from tools.make_clustered_fixture import clustered_embeddings
    from x17a5_spark.queries import registry

    queries, _ = registry()
    vecs, _ = clustered_embeddings(n=N_FIXTURE)
    truth = exact_topk(vecs, n_queries=10, top_k=5)
    got: dict[int, set] = {q: set() for q in truth}
    for r in queries[query_name](spark, sf_dir).collect():
        got[r["q_id"]].add(r["c_id"])
    hits = sum(len(got[q] & truth[q]) for q in truth)
    return hits / (5 * len(truth))


def test_trained_pq_retrieves_on_clustered_corpus(spark, clustered_dir):
    r = _recall_at_5(spark, clustered_dir, "s8_trained_pq")
    assert r >= 0.8, f"s8 recall@5 {r:.2f} on clustered fixture"


def test_trained_ivf_retrieves_and_beats_untrained(spark, clustered_dir):
    r_trained = _recall_at_5(spark, clustered_dir, "s7_trained_ivf")
    r_untrained = _recall_at_5(spark, clustered_dir, "s3_ivf_probe")
    assert r_trained >= 0.8, f"s7 recall@5 {r_trained:.2f}"
    # Lloyd rounds must not LOSE recall vs the untrained md5 codebook;
    # on a well-separated mixture they should find the true cells
    assert r_trained >= r_untrained, (r_trained, r_untrained)
