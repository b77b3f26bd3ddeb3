"""Cross-engine float-safety audit for the ANN oracles (ann_lsh_topk,
ann_ivf_topk, d5_embedding_neardup): the engine decides SRP buckets and
IVF cells with a numpy matmul, the DuckDB oracle with
``list_dot_product``, so the two sum in different orders. The outputs
agree only if every decision sits far above the ~1e-13 reordering
noise of a 64-term dot product:

1. every SRP projection sign (lsh_topk's 8-bit and d5's 12-bit plane
   sets; d5's planted 1.5x copies scale the same projections);
2. every IVF cell argmax (top-1 vs top-2 score) and every query's
   nprobe boundary (3rd vs 4th score);
3. the adjacent cosine gaps the top-k windows rank on, over the whole
   corpus and within each query's probed IVF cells.

Same doctrine as tests/test_ctx1_margins.py and
tests/test_ctx10_margins.py."""

import os

import numpy as np
import pandas as pd
import pytest

MIN_MARGIN = 1e-9


@pytest.fixture(
    scope="module",
    params=["0.001", "0.01", "0.1"],
    ids=["sf0.001", "sf0.01", "sf0.1"],
)
def corpus(request):
    import __spark_entry__ as entry_mod

    testdata = os.path.dirname(entry_mod.DEFAULT_SF_DIR)
    path = os.path.join(testdata, f"sf{request.param}", "embeddings.parquet")
    if not os.path.exists(path):
        pytest.skip("gate-scale testdata not present")
    emb = pd.read_parquet(path)
    return np.array([np.array(list(v), dtype=np.float64) for v in emb["embedding"]])


@pytest.mark.parametrize("bits", [8, 12])
def test_srp_projection_signs(corpus, bits):
    from t_res_spark.operators.similarity_search import _hyperplanes

    dim = corpus.shape[1]
    min_abs = min(
        float(np.abs(corpus @ np.array(_hyperplanes(dim, bits, 42 + t)).T).min())
        for t in range(4)
    )
    assert min_abs > MIN_MARGIN, min_abs


def test_cosine_rank_gaps(corpus):
    unit = corpus / np.maximum(np.linalg.norm(corpus, axis=1, keepdims=True), 1e-12)
    for q in range(3):
        s = np.sort(unit @ unit[q])[::-1]
        gap = float(np.abs(np.diff(s[:30])).min())
        assert gap > MIN_MARGIN, (q, gap)


def test_ivf_cell_and_probe_gaps(corpus):
    import __spark_entry__ as entry_mod

    nprobe = 3
    C = np.asarray(entry_mod._ivf_fixture_centroids(corpus.shape[1]))
    S = corpus @ C.T
    srt = np.sort(S, axis=1)[:, ::-1]
    cell_gap = float((srt[:, 0] - srt[:, 1]).min())
    assert cell_gap > MIN_MARGIN, cell_gap
    probe_gap = float((srt[:3, nprobe - 1] - srt[:3, nprobe]).min())
    assert probe_gap > MIN_MARGIN, probe_gap

    unit = corpus / np.maximum(np.linalg.norm(corpus, axis=1, keepdims=True), 1e-12)
    vcell = S.argmax(axis=1)
    for q in range(3):
        probed = np.isin(vcell, np.argsort(-S[q])[:nprobe])
        cos = np.sort(unit[probed] @ unit[q])[::-1]
        rgap = float(np.abs(np.diff(cos[:12])).min())
        assert rgap > MIN_MARGIN, (q, rgap)
