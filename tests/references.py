"""Small numpy references shared by several test modules.

Each reference restates an operator's arithmetic in plain numpy, using
the same IEEE-754 operations in the same order as the Spark plan, so
the tests can demand bit-identical output.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from openelevationservice_spark.constants import COORD_PRECISION

DENSIFY_COLUMNS = ["line_id", "x1", "y1", "seq", "x", "y", "dist"]


def densify_reference(pdf: pd.DataFrame) -> pd.DataFrame:
    """``operators.line.densify_lines`` over a pandas frame of
    (line_id, x1, y1, x2, y2): vertex rows P1, interior t = k·frac,
    P2, with the reference DISTINCT folded into the vertex count."""
    if not len(pdf):
        return pd.DataFrame({c: [] for c in DENSIFY_COLUMNS})
    x1 = pdf["x1"].to_numpy(np.float64)
    y1 = pdf["y1"].to_numpy(np.float64)
    x2 = pdf["x2"].to_numpy(np.float64)
    y2 = pdf["y2"].to_numpy(np.float64)
    dx = x2 - x1
    dy = y2 - y1
    ln = np.sqrt(dx * dx + dy * dy)
    with np.errstate(divide="ignore"):
        frac = np.where(ln == 0.0, 1.0, np.minimum(1.0, COORD_PRECISION / ln))
    n_int = np.where(ln == 0.0, 0, np.floor(1.0 / frac)).astype(np.int64)
    t_last = n_int * frac
    xl = x1 + t_last * dx
    yl = y1 + t_last * dy
    tail = (n_int >= 1) & ((t_last >= 1.0) | ((xl == x2) & (yl == y2)))
    n_keep = n_int - tail.astype(np.int64)
    p2 = (x2 != x1) | (y2 != y1)
    cnt = 1 + n_keep + p2.astype(np.int64)
    off = np.concatenate([[0], np.cumsum(cnt)])
    li = np.repeat(np.arange(len(pdf)), cnt)
    j = np.arange(off[-1]) - off[li]
    is_p1 = j == 0
    is_p2 = p2[li] & (j == cnt[li] - 1)
    t = j * frac[li]
    x = np.where(is_p1, x1[li], np.where(is_p2, x2[li], x1[li] + t * dx[li]))
    y = np.where(is_p1, y1[li], np.where(is_p2, y2[li], y1[li] + t * dy[li]))
    ddx = x - x1[li]
    ddy = y - y1[li]
    return pd.DataFrame({
        "line_id": pdf["line_id"].to_numpy(np.int64)[li],
        "x1": x1[li], "y1": y1[li],
        "seq": (j + 1).astype(np.int32),
        "x": x, "y": y,
        "dist": np.sqrt(ddx * ddx + ddy * ddy),
    })


def assert_densify_matches_reference(got: pd.DataFrame, lines: pd.DataFrame) -> None:
    """Row-for-row, bit-for-bit equality of a densify result with
    :func:`densify_reference` (both sorted by line_id, seq)."""
    key = ["line_id", "seq"]
    a = got[DENSIFY_COLUMNS].sort_values(key).reset_index(drop=True)
    b = densify_reference(lines).sort_values(key).reset_index(drop=True)
    assert len(a) == len(b)
    for c in DENSIFY_COLUMNS:
        assert (a[c].to_numpy() == b[c].to_numpy()).all(), c
