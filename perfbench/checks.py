"""Output checks: compare one call's collected output with the expected one.

Every function takes plain Python / pandas values and returns a list of
problems (empty when the output is correct), so the checks run without Spark.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

RTOL = 1e-9


def _edge_frame(f, n, w) -> pd.DataFrame:
    return pd.DataFrame(
        {"focal": np.asarray(f, np.int64), "neighbor": np.asarray(n, np.int64),
         "weight": np.asarray(w, np.float64)}
    )


def edges(got: pd.DataFrame, exp: tuple) -> list[str]:
    """Same (focal, neighbor) set, each exactly once, weights within RTOL."""
    want = _edge_frame(*exp)
    got = got[["focal", "neighbor", "weight"]]
    if got.duplicated(["focal", "neighbor"]).any():
        return ["duplicate (focal, neighbor) rows"]
    m = want.merge(got, on=["focal", "neighbor"], how="outer", suffixes=("_w", "_g"),
                   indicator=True)
    missing = int((m["_merge"] == "left_only").sum())
    extra = int((m["_merge"] == "right_only").sum())
    if missing or extra:
        return [f"{missing} edges missing, {extra} unexpected (of {len(want)})"]
    bad = ~np.isclose(m["weight_g"], m["weight_w"], rtol=RTOL, atol=1e-12)
    if bad.any():
        return [f"{int(bad.sum())} weights differ"]
    return []


def pairs(got: pd.DataFrame, exp: set, a: str = "doc_a", b: str = "doc_b") -> list[str]:
    have = set(zip(got[a].astype(np.int64).tolist(), got[b].astype(np.int64).tolist()))
    if len(have) != len(got):
        return ["duplicate pairs"]
    if have != exp:
        return [f"{len(exp - have)} pairs missing, {len(have - exp)} unexpected (of {len(exp)})"]
    return []


def mapping(got: dict, exp: dict, tol: float | None = None) -> list[str]:
    if set(got) != set(exp):
        return [f"key sets differ: {len(set(exp) - set(got))} missing, "
                f"{len(set(got) - set(exp))} unexpected"]
    if tol is None:
        bad = sum(got[k] != exp[k] for k in exp)
    else:
        bad = sum(not np.isclose(got[k], exp[k], rtol=tol, atol=tol) for k in exp)
    return [f"{bad} of {len(exp)} values differ"] if bad else []


def exact_duplicates(got: pd.DataFrame, exp: dict) -> list[str]:
    have = {r.content_hash: (int(r.keep_id), int(r.n_dups)) for r in got.itertuples()}
    return mapping(have, exp)


def cosine_pairs(got: pd.DataFrame, exp: tuple, threshold: float) -> list[str]:
    """Pairs with round(cos, 6) > threshold. Pairs within 1e-9 of the
    rounding boundary may go either way (summation order differs)."""
    a, b, cos = exp
    r = np.round(cos, 6)
    sure = r > threshold + 1e-9
    maybe = np.abs(cos - threshold) <= 1e-6
    want = set(zip(a[sure].tolist(), b[sure].tolist()))
    allowed = want | set(zip(a[maybe].tolist(), b[maybe].tolist()))
    have = dict(zip(zip(got["doc_a"].tolist(), got["doc_b"].tolist()), got["cosine"].tolist()))
    if len(have) != len(got):
        return ["duplicate pairs"]
    missing = want - set(have)
    extra = set(have) - allowed
    if missing or extra:
        return [f"{len(missing)} pairs missing, {len(extra)} unexpected (of {len(want)})"]
    exact = dict(zip(zip(a.tolist(), b.tolist()), cos.tolist()))
    bad = sum(abs(v - exact[k]) > 1e-6 for k, v in have.items())
    return [f"{bad} cosines differ"] if bad else []
