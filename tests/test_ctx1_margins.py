"""Cross-engine float-safety audit for the ctx1 oracle (the promise
in q_ctx1_one_loop's docstring): the Spark kernel's raw one-loop
scores and the DuckDB oracle's raw recomputation must sit orders of
magnitude closer to each other than to any decision boundary — the
3-dp rounding boundaries of link_score and the argmax margins that
pick the prediction. Exact-binary-rational scores (singleton convs,
coher = 0) are allowed ON a rounding boundary because both engines
hold bit-identical doubles there and the gate query matches rounding
MODE (HALF_UP) across engines.

Same doctrine as tests/test_ann_margins.py for the ANN oracles."""

import math
import os

import duckdb
import pytest

SF_DIR = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def engines(spark):
    if not os.path.isdir(SF_DIR):
        pytest.skip("gate-scale testdata not present")
    import __spark_entry__ as entry_mod

    # engine side: raw scores for ALL candidates (kernel, n_loops=1)
    from pyspark.sql import functions as F

    from t_res_spark.operators.context import context_disambiguate

    entry_mod._register(spark, SF_DIR)
    mentions = spark.sql(entry_mod.CTX_MENTIONS_SQL)
    cands = spark.sql(entry_mod.CTX_CANDS_SQL)
    winners = context_disambiguate(
        mentions, cands, prerank=False, n_loops=1, round_dp=None
    ).toPandas()

    con = duckdb.connect()
    for t in entry_mod.TABLES:
        p = os.path.join(SF_DIR, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    raw = con.sql(entry_mod._ctx1_oracle_sql(round_out=False)).df()
    return winners, raw


def _boundary_dist(x: float) -> float:
    """Distance of x from the nearest .0005 rounding boundary."""
    f = (x * 1000.0) % 1.0
    return abs(f - 0.5)


def _is_exact_rational(x: float, denom_bits: int = 14) -> bool:
    return x * (1 << denom_bits) == int(x * (1 << denom_bits))


def test_cross_engine_delta_and_margins(engines):
    winners, raw = engines
    # winner score per mention from the duck side (same tie order)
    raw = raw.sort_values(["mention_id", "s", "qid"],
                          ascending=[True, False, True], kind="stable")
    top = raw.groupby("mention_id", sort=True).nth(0).reset_index()
    second = raw.groupby("mention_id", sort=True).nth(1).reset_index()

    eng = winners.set_index("mention_id")
    duck = top.set_index("mention_id")
    assert set(eng.index) == set(duck.index)

    max_delta = 0.0
    for mid in eng.index:
        assert eng.loc[mid, "prediction"] == duck.loc[mid, "qid"], (
            f"argmax disagrees for {mid}"
        )
        d = abs(float(eng.loc[mid, "link_score"]) - float(duck.loc[mid, "s"]))
        max_delta = max(max_delta, d)
    assert max_delta < 1e-9, f"cross-engine delta {max_delta} too large"

    # rounding-boundary margins: every non-exact winner score must sit
    # far from a .0005 boundary relative to the measured delta
    close = []
    for mid in duck.index:
        s = float(duck.loc[mid, "s"])
        if _is_exact_rational(s):
            # exact case: both engines must hold the identical double
            assert float(eng.loc[mid, "link_score"]) == s
            continue
        close.append(_boundary_dist(s))
    assert close, "audit expects some non-exact winners"
    min_bdist = min(close)
    # distance is in rounded units (1 unit = 0.001 of score). The bound
    # is relative to the MEASURED cross-engine delta: the closest
    # non-exact winner must sit at least 100x the worst observed
    # engine disagreement from a boundary (observed: min_bdist ~7e-4
    # units = 7e-7 of score vs delta < 1e-9 of score — a ~700x cushion),
    # with an absolute floor well above double noise.
    delta_units = max(max_delta * 1000.0, 1e-12)
    assert min_bdist > max(100.0 * delta_units, 1e-5), (
        f"winner too close to rounding boundary: {min_bdist} units "
        f"vs delta {delta_units} units"
    )

    # argmax margins: winner vs runner-up gap must dwarf the noise.
    # EXACT ties (margin == 0.0) are allowed: they arise from exactly
    # representable coherence values (e.g. cos = 1.0 when every other
    # best embedding coincides), both engines hold the identical
    # doubles (covered by the delta + winner asserts above), and both
    # break the tie by the same qid-ascending order. What must never
    # happen is a NEAR-zero margin, where 1-ulp noise could flip the
    # argmax in one engine only.
    sec = second.set_index("mention_id")
    margins = [
        float(duck.loc[mid, "s"]) - float(sec.loc[mid, "s"])
        for mid in sec.index
        if not math.isnan(sec.loc[mid, "s"])
    ]
    nonzero = [m for m in margins if m != 0.0]
    assert nonzero and min(nonzero) > 1e-6, (
        f"argmax margin too small: {min(nonzero) if nonzero else None}"
    )
    # exact ties must be bit-exact ties on the spark side too
    for mid in sec.index:
        if not math.isnan(sec.loc[mid, "s"]) and (
            float(duck.loc[mid, "s"]) == float(sec.loc[mid, "s"])
        ):
            assert float(eng.loc[mid, "link_score"]) == float(duck.loc[mid, "s"])
