"""Output oracles: DuckDB SQL for the fold plans, and frame equality.

Every check returns ``None`` when the outputs agree and a one-line
reason when they do not; the runner counts a reason as a failed
operation and carries on.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

# Every feature of the fused program and of the store plan at a
# snapshot, straight from the raw facts: folds see facts strictly
# before the snapshot, `newest` and `latest 5` order by (event_time,
# seq), every fact's doc_id is in the output, sums and counts of an
# empty history are 0, other folds null. `decay7` weighs a fact by
# exp(-ln 2 / 7 days * its age at the snapshot).
FOLD_SQL = """
WITH f AS (SELECT doc_id, n_tok, source, event_time, seq FROM read_parquet({paths})),
spine AS (SELECT DISTINCT doc_id FROM f),
vis AS (
  SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY event_time DESC, seq DESC) AS rn
  FROM f WHERE event_time < TIMESTAMP '{snap}'
),
agg AS (
  SELECT doc_id,
    sum(n_tok) AS sum_ntok, count(n_tok) AS cnt, avg(n_tok) AS mean_ntok,
    min(n_tok) AS min_ntok, max(n_tok) AS max_ntok,
    max(n_tok) FILTER (rn = 1) AS newest_ntok,
    sum(n_tok) FILTER (event_time >= TIMESTAMP '{snap}' - INTERVAL 30 DAY) AS win30_sum,
    count(n_tok) FILTER (event_time >= TIMESTAMP '{snap}' - INTERVAL 30 DAY) AS win30_cnt,
    avg(n_tok) FILTER (rn <= 5) AS latest5_mean,
    count(n_tok) FILTER (source = 'web') AS web_cnt,
    sum(n_tok) / count(n_tok) AS avg_manual,
    sum(n_tok * exp(-ln(2) / (7 * 86400.0)
        * (epoch_us(TIMESTAMP '{snap}') - epoch_us(event_time)) / 1e6)) AS decay7
  FROM vis GROUP BY doc_id
)
SELECT s.doc_id,
  coalesce(sum_ntok, 0) AS sum_ntok, coalesce(cnt, 0) AS cnt, mean_ntok,
  min_ntok, max_ntok, newest_ntok,
  coalesce(win30_sum, 0) AS win30_sum, coalesce(win30_cnt, 0) AS win30_cnt,
  latest5_mean, coalesce(web_cnt, 0) AS web_cnt, avg_manual,
  coalesce(decay7, 0) AS decay7
FROM spine s LEFT JOIN agg USING (doc_id)
"""

GROUP_SQL = """
SELECT doc_id, source, count(n_tok) AS n FROM read_parquet({paths})
WHERE event_time < TIMESTAMP '{snap}' GROUP BY doc_id, source
"""


def fold_oracle(paths: list[str], snap: str, cols: list[str]) -> pd.DataFrame:
    """``doc_id`` and the features ``cols`` over the facts in ``paths``;
    ``by_source`` is the map of fact counts per source."""
    import duckdb

    sql = {"paths": "[" + ", ".join(f"'{p}'" for p in paths) + "]", "snap": snap}
    con = duckdb.connect()
    try:
        out = con.execute(FOLD_SQL.format(**sql)).df()
        if "by_source" in cols:
            grp = con.execute(GROUP_SQL.format(**sql)).df()
            maps = {doc: canon_map(dict(zip(g["source"], g["n"])))
                    for doc, g in grp.groupby("doc_id", sort=False)}
            out["by_source"] = out["doc_id"].map(maps).fillna(canon_map({}))
    finally:
        con.close()
    return out[["doc_id", *cols]]


def canon_map(m) -> str:
    """One spelling for a map cell, whichever reader produced it:
    a dict, a list of (key, value) pairs, or null (an empty map)."""
    if m is None or (isinstance(m, float) and np.isnan(m)):
        m = {}
    items = dict(m).items() if not isinstance(m, dict) else m.items()
    return ",".join(f"{k}={int(v)}" for k, v in sorted(items))


def read_output(path: str, map_cols: tuple[str, ...] = ()) -> pd.DataFrame:
    """A Spark parquet output directory as pandas, map cells canonical."""
    df = pq.read_table(path).to_pandas()
    for c in map_cols:
        df[c] = df[c].map(canon_map)
    return df


def frames_equal(got: pd.DataFrame, want: pd.DataFrame, key: str) -> str | None:
    """Row-for-row equality keyed by ``key``: numbers to 1e-9 relative
    (integers exactly, nulls equal nulls), everything else exactly."""
    if sorted(got.columns) != sorted(want.columns):
        return f"columns {sorted(got.columns)} != {sorted(want.columns)}"
    if len(got) != len(want):
        return f"rows {len(got)} != {len(want)}"
    g = got.sort_values(key).reset_index(drop=True)
    w = want.sort_values(key).reset_index(drop=True)
    for c in sorted(want.columns):
        a, b = g[c], w[c]
        if pd.api.types.is_numeric_dtype(a) and pd.api.types.is_numeric_dtype(b):
            ok = np.isclose(a.to_numpy("float64", na_value=np.nan),
                            b.to_numpy("float64", na_value=np.nan),
                            rtol=1e-9, atol=1e-9, equal_nan=True)
        else:
            ok = (a.astype(str) == b.astype(str)).to_numpy()
        if not ok.all():
            i = int(np.argmin(ok))
            return f"{c} at {key}={g[key].iloc[i]!r}: {a.iloc[i]!r} != {b.iloc[i]!r}"
    return None
