"""Cross-engine float-safety audit for the ctx10_corpus oracle (the
promise in q_ctx10_corpus's docstring): ten unrolled loops of the
damped coherence recursion accumulate cross-engine drift (numpy kernel
vs DuckDB CTE chain) that must stay orders of magnitude below every
decision boundary — the 1e-9 argmax quantization cell that picks each
iteration's best embedding and the final prediction, and the .0005
rounding boundaries of the 3-dp link_score.

Three layers:
1. loop-by-loop winner equality + raw-score drift at depths 1, 5, 10
   (kernel `_conv_coherence` vs `_ctx_loops_oracle_sql(t)` raw mode);
2. final-state argmax margins on the oracle side: top1-vs-top2 gaps are
   either EXACT ties (same double, broken by qid order on both
   engines) or dwarf the measured drift;
3. quantization-cell edge distances: no candidate score sits close
   enough to a floor(s*1e9+0.5) jump for drift to flip its cell.

Same doctrine as tests/test_ctx1_margins.py (which this subsumes at
depth 1) and tests/test_ann_margins.py."""

import math
import os

import duckdb
import numpy as np
import pandas as pd
import pytest

DEPTHS = (1, 5, 10)


def _duck_con(sf_dir):
    """DuckDB connection with the gate tables registered as views —
    the same registration tools/validate_gate.py performs."""
    import __spark_entry__ as entry_mod

    con = duckdb.connect()
    for t in entry_mod.TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')"
            )
    return con


# both the driver's gate scale and the 10× replication scale — the
# sf0.1 sweep is what surfaced the exact-rational-tie class in r5
@pytest.fixture(
    scope="module",
    params=["/root/testdata/sf0.01", "/root/testdata/sf0.1"],
    ids=["sf0.01", "sf0.1"],
)
def audit(request):
    SF_DIR = request.param
    if not os.path.isdir(SF_DIR):
        pytest.skip("gate-scale testdata not present")
    import __spark_entry__ as entry_mod
    from t_res_spark.operators.context import _conv_coherence

    con = _duck_con(SF_DIR)

    # the corpus exactly as the operator's JVM-side prep builds it:
    # dedup'd candidates, normalized priors, qid embeddings
    from t_res_spark.datagen import EMB_DIM, hashed_ngram_embedding

    pdf = con.sql(
        f"""
        WITH cand AS (
          SELECT mention, qid, max(abs_relv) AS abs_relv
          FROM ({entry_mod.CTX_CANDS_SQL}) GROUP BY mention, qid
        ), pri AS (
          SELECT mention, qid,
                 abs_relv / sum(abs_relv) OVER (PARTITION BY mention)
                   AS prior
          FROM cand
        )
        SELECT m.conv_id, m.mention_id, m.mention, p.qid, p.prior
        FROM ({entry_mod.CTX_MENTIONS_SQL}) m JOIN pri p USING (mention)
        ORDER BY m.mention_id, p.qid
        """
    ).df()
    pdf["emb"] = [
        hashed_ngram_embedding(q, EMB_DIM).astype("float64") for q in pdf["qid"]
    ]
    pdf["is_prior"] = False
    pdf["prior_qid"] = None

    kern = {
        t: _conv_coherence(pdf, n_loops=t, round_dp=None) for t in DEPTHS
    }
    duck = {
        t: con.sql(
            entry_mod._ctx_loops_oracle_sql(t, round_out=False)
        ).df()
        for t in DEPTHS
    }
    return kern, duck


def _winners(raw: pd.DataFrame) -> pd.DataFrame:
    """Rank the oracle's raw candidate scores exactly as the gate query
    does: quantized key desc, qid asc."""
    r = raw.copy()
    r["key"] = np.floor(r["s"].to_numpy() * 1e9 + 0.5).astype("int64")
    r = r.sort_values(
        ["mention_id", "key", "qid"],
        ascending=[True, False, True],
        kind="stable",
    )
    return r.groupby("mention_id", sort=True).nth(0).reset_index()


def test_loopwise_winner_equality_and_drift(audit):
    kern, duck = audit
    for t in DEPTHS:
        eng = kern[t].set_index("mention_id")
        top = _winners(duck[t]).set_index("mention_id")
        assert set(eng.index) == set(top.index)
        max_delta = 0.0
        for mid in eng.index:
            assert eng.loc[mid, "prediction"] == top.loc[mid, "qid"], (
                f"depth {t}: argmax disagrees for {mid}"
            )
            max_delta = max(
                max_delta,
                abs(float(eng.loc[mid, "link_score"]) - float(top.loc[mid, "s"])),
            )
        # drift must sit far below the 1e-9 quantization cell; it is
        # damped (×0.5/loop) so depth barely grows it
        assert max_delta < 1e-11, (t, max_delta)


def test_final_argmax_margins(audit):
    _, duck = audit
    raw = duck[10].copy()
    raw["key"] = np.floor(raw["s"].to_numpy() * 1e9 + 0.5).astype("int64")
    raw = raw.sort_values(
        ["mention_id", "key", "qid"],
        ascending=[True, False, True],
        kind="stable",
    )
    g = raw.groupby("mention_id", sort=True)
    top = g.nth(0).reset_index().set_index("mention_id")
    sec = g.nth(1).reset_index().set_index("mention_id")
    margins = [
        float(top.loc[mid, "s"]) - float(sec.loc[mid, "s"])
        for mid in sec.index
        if not math.isnan(sec.loc[mid, "s"])
    ]
    nonzero = [m for m in margins if m != 0.0]
    assert nonzero and min(nonzero) > 1e-7, min(nonzero, default=None)
    # exact ties must be EXACT (identical doubles), never near-zero
    near = [m for m in margins if m != 0.0 and m < 1e-10]
    assert not near, near


def test_pairwise_gap_structure(audit):
    """The invariant that makes the quantized argmax cross-engine
    deterministic is PAIRWISE, per mention: two candidate scores are
    either exactly tied (same double — a structural tie, broken by qid
    order on both engines, whose shared value must sit mid-cell so
    ulp-level drift cannot push the two engines into different cells)
    or separated by far more than one 1e-9 cell plus drift. Scores ARE
    allowed near cell edges in isolation (a lone candidate changing
    cell never reorders anything) — what must be empty is the
    forbidden zone of tiny-but-nonzero gaps."""
    _, duck = audit
    for t in DEPTHS:
        forbidden, tie_edges = [], []
        for _, g in duck[t].groupby("mention_id"):
            s = np.sort(g["s"].to_numpy())
            for lo, hi, gap in zip(s, s[1:], np.diff(s)):
                if gap == 0.0:
                    q = lo * 1e9 + 0.5
                    frac = q - math.floor(q)
                    tie_edges.append(min(frac, 1.0 - frac))
                elif gap < 1e-7:
                    forbidden.append((t, float(lo), float(gap)))
        assert not forbidden, forbidden
        if tie_edges:
            assert min(tie_edges) > 0.05, (t, min(tie_edges))


def test_rounding_boundary_margins(audit):
    """The gate compares HALF_UP 3-dp roundings. For every winner:
    rounded equality must hold outright, and it must be ROBUST — an
    off-boundary winner sits ≥100× the measured cross-engine delta
    from the nearest .0005 boundary; a winner exactly ON a boundary
    (exact binary rationals can land there) is only safe if both
    engines hold the identical double, so that is asserted. Note exact
    RATIONALITY alone does not imply bit-equality at depth 10: the
    kernel's cos computation (normalize-then-dot) can read
    0.9999999999999998 where the oracle's dot/(|a||b|) reads 1.0, so
    an exact duck-side value may sit one ulp from the kernel's —
    harmless anywhere except ON a boundary."""
    kern, duck = audit
    top = _winners(duck[10]).set_index("mention_id")
    eng = kern[10].set_index("mention_id")

    def _half_up_3dp(x: float) -> float:
        return math.floor(x * 1000.0 + 0.5) / 1000.0

    close = []
    for mid in top.index:
        s = float(top.loc[mid, "s"])
        e = float(eng.loc[mid, "link_score"])
        assert _half_up_3dp(s) == _half_up_3dp(e), (mid, s, e)
        bdist = abs((s * 1000.0) % 1.0 - 0.5)
        if bdist == 0.0:
            assert e == s, (mid, s, e)
        else:
            close.append((bdist, abs(s - e)))
    assert close, "audit expects off-boundary winners"
    min_bdist = min(b for b, _ in close)
    max_delta = max(d for _, d in close)
    assert min_bdist > max(100.0 * max_delta * 1000.0, 1e-5), (
        min_bdist, max_delta
    )


@pytest.mark.parametrize(
    "sf_dir",
    ["/root/testdata/sf0.001", "/root/testdata/sf0.01", "/root/testdata/sf0.1"],
    ids=["sf0.001", "sf0.01", "sf0.1"],
)
def test_disamb_corpus_degeneracy_and_rounding(sf_dir):
    """Pins the premises that make the flagship ctx_disambiguate gate
    query oracle-expressible (q_ctx_disambiguate docstring): the
    exact-match candidate KB yields exactly ONE candidate per matched
    surface (→ prior 1.0, prerank keeps all, no argmax dynamics), and
    every depth-10 winner either sits far from a .0005 rounding
    boundary (relative to ~1e-13 cross-engine drift) or is an exact
    binary rational produced by exact arithmetic (singleton convs:
    geometric decay from 1.0), which both engines hold bit-identically.
    A regenerated fixture that breaks either premise fails here loudly
    instead of flipping the gate."""
    if not os.path.isdir(sf_dir):
        pytest.skip("gate-scale testdata not present")
    import __spark_entry__ as entry_mod

    con = _duck_con(sf_dir)
    # premise 1: single candidate per matched surface
    multi = con.sql(
        f"""SELECT mention FROM (
              SELECT DISTINCT mention, qid FROM ({entry_mod.CANDIDATES_SQL}))
            GROUP BY mention HAVING count(*) > 1"""
    ).df()
    assert multi.empty, multi

    raw = con.sql(
        entry_mod._ctx_loops_oracle_sql(
            10, round_out=False, cands_sql=entry_mod.CANDIDATES_SQL
        )
    ).df()
    assert len(raw) and raw.groupby("mention_id").size().max() == 1

    def _is_exact_rational(x: float, denom_bits: int = 24) -> bool:
        return x * (1 << denom_bits) == int(x * (1 << denom_bits))

    close = []
    for s in raw["s"].astype(float):
        bdist = abs((s * 1000.0) % 1.0 - 0.5)
        if bdist == 0.0:
            assert _is_exact_rational(s), s
        else:
            close.append(bdist)
    # an all-on-boundary corpus would be premise-consistent (every
    # score exact-rational) — only a CLOSE off-boundary score is bad
    assert not close or min(close) > 1e-5, min(close)


@pytest.mark.parametrize(
    "sf_dir",
    ["/root/testdata/sf0.001", "/root/testdata/sf0.01", "/root/testdata/sf0.1"],
    ids=["sf0.001", "sf0.01", "sf0.1"],
)
def test_attention_cap_never_binds_on_gate_corpora(sf_dir):
    """The unrolled oracle does NOT model the kernel's ATT_TOP_N
    local-attention cap (W5) — it is sound only because every gate
    conversation carries at most ATT_TOP_N other mentions, so the cap
    never binds. Pin that premise for BOTH oracle corpora (the
    two-candidate ctx10_corpus/ctx1 corpus and the single-candidate
    ctx_disambiguate corpus — same mention table) at every scale the
    gate replicates, so corpus growth that silently activates the
    attention path fails here instead of as a hash mismatch."""
    if not os.path.isdir(sf_dir):
        pytest.skip("gate-scale testdata not present")
    import __spark_entry__ as entry_mod
    from t_res_spark.operators.context import ATT_TOP_N

    con = _duck_con(sf_dir)
    for cands_sql in (entry_mod.CTX_CANDS_SQL, entry_mod.CANDIDATES_SQL):
        mx = con.sql(
            f"""
            SELECT max(n) FROM (
              SELECT conv_id, count(DISTINCT mention_id) AS n
              FROM ({entry_mod.CTX_MENTIONS_SQL}) m
              JOIN (SELECT DISTINCT mention FROM ({cands_sql})) c
                USING (mention)
              GROUP BY conv_id)
            """
        ).fetchone()[0]
        # "others" per mention = conv size - 1 must be <= ATT_TOP_N
        assert mx is not None and mx - 1 <= ATT_TOP_N, (sf_dir, mx)
