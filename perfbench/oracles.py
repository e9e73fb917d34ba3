"""Independent oracles, run after the timed region on a bounded sample.

- flatten features and finalized 1h/1d tier stats: DuckDB SQL over the
  generated parquet files;
- Gorilla decode: bit-exact comparison with the raw points it encoded;
- dedup: exact shingle Jaccard in plain Python for every reported pair,
  and union-find components for the clusters.

Each ``check_*`` returns a list of mismatch descriptions (empty = pass).
Sums are exact by construction (see ``gen``), so count/sum/min/max/mean/
earliest/latest compare with ``==``. The flatten slope is computed
exactly, as a fraction of integer sums; Spark's floating-point slope must
match it to 1e-9 (relative, and absolute for slopes near 0, whose float
noise at x ~ 2e4 days is far above 1e-12). Variance uses the same 1e-9.
"""

from __future__ import annotations

import math
from fractions import Fraction

import duckdb
import numpy as np
import pandas as pd
import pyarrow.parquet as pq

import gen

DAY_US = 86_400_000_000
REL_TOL = 1e-9
MAX_REPORTED = 5  # mismatches listed per check


def _con() -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads TO 1")
    return con


def _same(a, b, rel: float = 0.0) -> bool:
    a_nan = a is None or (isinstance(a, float) and math.isnan(a))
    b_nan = b is None or (isinstance(b, float) and math.isnan(b))
    if a_nan or b_nan:
        return a_nan and b_nan
    if rel:
        return math.isclose(float(a), float(b), rel_tol=rel, abs_tol=rel)
    return a == b


def _compare(label: str, got: dict, want: dict, tol: dict[str, float]) -> list[str]:
    """got/want: key -> {column: value}. Columns missing from got are errors.
    ``tol`` maps a column-name part (``"slope"`` matches ``..._slope_...``)
    to the relative tolerance used for matching columns."""
    errors = []
    if set(got) != set(want):
        missing, extra = set(want) - set(got), set(got) - set(want)
        errors.append(f"{label}: key sets differ (missing {sorted(missing)[:3]}, extra {sorted(extra)[:3]})")
    for key in sorted(set(got) & set(want)):
        for col, w in want[key].items():
            if col not in got[key]:
                errors.append(f"{label}: no column {col}")
                return errors
            g = got[key][col]
            rel = next((r for part, r in tol.items() if f"_{part}" in col), 0.0)
            if not _same(g, w, rel):
                errors.append(f"{label}: {key} {col} got {g!r} want {w!r}")
                if len(errors) >= MAX_REPORTED:
                    return errors
    return errors


def _py(v):
    return v.item() if isinstance(v, np.generic) else v


# ---------------------------------------------------------------- flatten

def sample_pred_uuids(inputs: str, n: int, seed: int) -> list[str]:
    pred = pq.read_table(f"{inputs}/pred.parquet").to_pandas()
    rows = pred.iloc[np.random.default_rng([seed, 10]).choice(len(pred), n, replace=False)]
    return [
        f"{e}-{t.strftime('%Y-%m-%d %H:%M:%S.%f')}"
        for e, t in zip(rows["entity_id"], rows["pred_timestamp"])
    ]


def _lookbehind_name(ch: str, days: int, agg: str) -> str:
    return f"pred_{ch}_within_0_to_{days}_days_{agg}_fallback_nan"


def _exact_slope(n, sx, sxx, sy4, sxy4) -> float | None:
    """OLS slope of y on whole days x from integer sums (y4 = 4y); None
    when it is undefined (fewer than two points, or one distinct day)."""
    if n < 2:
        return None
    den = 4 * (n * int(sxx) - int(sx) ** 2)
    if den == 0:
        return None
    return float(Fraction(n * int(sxy4) - int(sx) * int(sy4), den))


def check_flatten(inputs: str, got: pd.DataFrame, uuids: list[str]) -> list[str]:
    con = _con()
    sample = pd.DataFrame(
        {
            "uuid": uuids,
            "entity_id": [int(u.split("-", 1)[0]) for u in uuids],
            "t_us": [
                int(pd.Timestamp(u.split("-", 1)[1]).value // 1000) for u in uuids
            ],
        }
    )
    con.register("sample", sample)
    con.register("lookbehind", pd.DataFrame({"days": list(gen.FW_LOOKBEHIND_DAYS)}))
    want: dict[str, dict] = {u: {} for u in uuids}
    for ch in gen.FW_CHANNELS:
        rows = con.execute(
            f"""
            SELECT s.uuid, l.days, count(e.v), avg(e.v), max(e.v),
                   sum(e.x), sum(e.x * e.x), sum(e.y4), sum(e.x * e.y4),
                   arg_max(e.v, e.ts_us)
            FROM sample s CROSS JOIN lookbehind l
            LEFT JOIN (
                SELECT entity_id, epoch_us("timestamp") AS ts_us, "{ch}" AS v,
                       CAST(4 * "{ch}" AS HUGEINT) AS y4,
                       CAST(epoch_us("timestamp") // {DAY_US} AS HUGEINT) AS x
                FROM read_parquet('{inputs}/{ch}.parquet')
            ) e ON e.entity_id = s.entity_id
               AND e.ts_us BETWEEN s.t_us - l.days * {DAY_US} AND s.t_us
            GROUP BY s.uuid, l.days
            """
        ).fetchall()
        for uuid, days, cnt, mean, mx, sx, sxx, sy4, sxy4, latest in rows:
            vals = {"mean": mean, "max": mx, "count": cnt, "latest": latest}
            vals["slope"] = _exact_slope(cnt, sx, sxx, sy4, sxy4)
            for agg in gen.FW_AGGS:
                v = vals[agg]
                want[uuid][_lookbehind_name(ch, days, agg)] = float("nan") if v is None else v
    outcome = f"outc_event_within_0_to_{gen.FW_OUTCOME_DAYS}_days_max_fallback_0"
    for uuid, hit in con.execute(
        f"""
        SELECT s.uuid, count(o.entity_id) > 0
        FROM sample s LEFT JOIN read_parquet('{inputs}/outcome.parquet') o
          ON o.entity_id = s.entity_id
         AND epoch_us(o."timestamp") BETWEEN s.t_us AND s.t_us + {gen.FW_OUTCOME_DAYS} * {DAY_US}
        GROUP BY s.uuid
        """
    ).fetchall():
        want[uuid][outcome] = 1 if hit else 0
    for uuid, score, whole_days in con.execute(
        f"""
        SELECT s.uuid, st.score, (s.t_us - epoch_us(b."timestamp")) // {DAY_US}
        FROM sample s
        JOIN read_parquet('{inputs}/static.parquet') st USING (entity_id)
        JOIN read_parquet('{inputs}/birth.parquet') b USING (entity_id)
        """
    ).fetchall():
        want[uuid]["pred_score_fallback_0"] = score
        want[uuid]["pred_age_years_fallback_0"] = whole_days / 365.25
    con.close()

    got_rows = {
        r["prediction_time_uuid"]: {k: _py(v) for k, v in r.items()}
        for r in got.to_dict("records")
    }
    return _compare("flatten", got_rows, want, {"slope": REL_TOL})


# ------------------------------------------------------------------ tiers

def conv_ids(files: list[str]) -> list[str]:
    ids: set[str] = set()
    for f in files:
        ids.update(pq.read_table(f, columns=["conv_id"])["conv_id"].to_pylist())
    return sorted(ids)


def check_tier(files: list[str], got: pd.DataFrame, tier: str, convs: list[str]) -> list[str]:
    width = {"1h": 3600, "1d": 86400}[tier] * 1_000_000
    con = _con()
    con.register("convs", pd.DataFrame({"conv_id": convs}))
    file_list = ", ".join(f"'{f}'" for f in files)
    stats = []
    for c in gen.TI_VALUE_COLS:
        stats += [
            f"count({c})", f"sum({c})", f"min({c})", f"max({c})", f"avg({c})",
            f"var_samp({c})", f"arg_min({c}, ts_us)", f"arg_max({c}, ts_us)",
        ]
    names = [
        f"{c}_{s}"
        for c in gen.TI_VALUE_COLS
        for s in ("count", "sum", "min", "max", "mean", "var", "earliest", "latest")
    ]
    rows = con.execute(
        f"""
        SELECT conv_id, ts_us - ts_us % {width} AS bucket, {", ".join(stats)}
        FROM (SELECT *, epoch_us(ts) AS ts_us FROM read_parquet([{file_list}]))
        WHERE conv_id IN (SELECT conv_id FROM convs)
        GROUP BY ALL
        """
    ).fetchall()
    con.close()
    want = {(r[0], r[1]): dict(zip(names, r[2:])) for r in rows}
    got_rows = {
        (r["conv_id"], r["bucket_start"]): {k: _py(v) for k, v in r.items()}
        for r in got.to_dict("records")
    }
    return _compare(f"tier {tier}", got_rows, want, {"var": REL_TOL})


def check_gorilla(raw_file: str, decoded: pd.DataFrame, convs: list[str], time_range) -> list[str]:
    raw = pq.read_table(raw_file, columns=["conv_id", "ts", "latency"]).to_pandas()
    raw = raw[raw["conv_id"].isin(convs)]
    if time_range is not None:
        lo, hi = (pd.Timestamp(t) for t in time_range)
        raw = raw[(raw["ts"] >= lo) & (raw["ts"] < hi)]
    key = ["conv_id", "ts"]
    raw = raw.sort_values(key).reset_index(drop=True)
    dec = decoded.sort_values(key).reset_index(drop=True)
    label = "gorilla" + (" range" if time_range is not None else "")
    if len(raw) != len(dec):
        return [f"{label}: {len(dec)} points decoded, {len(raw)} encoded"]
    if not len(raw):
        return []
    errors = []
    if not (raw["conv_id"].to_numpy() == dec["conv_id"].to_numpy()).all():
        errors.append(f"{label}: conv ids differ")
    as_us = lambda s: s.to_numpy().astype("datetime64[us]").astype(np.int64)  # noqa: E731
    if not (as_us(raw["ts"]) == as_us(dec["ts"])).all():
        errors.append(f"{label}: timestamps differ")
    raw_bits = raw["latency"].to_numpy(np.float64).view(np.uint64)
    dec_bits = dec["latency"].to_numpy(np.float64).view(np.uint64)
    if not (raw_bits == dec_bits).all():
        errors.append(f"{label}: values differ bitwise")
    return errors


# ------------------------------------------------------------------ dedup

def _shingles(text: str, k: int = 3) -> set[tuple[str, ...]]:
    toks = " ".join(text.lower().split()).split(" ")
    if len(toks) < k:
        return {tuple(toks)}
    return {tuple(toks[i : i + k]) for i in range(len(toks) - k + 1)}


def check_dedup(
    corpus_file: str, pairs: pd.DataFrame, clusters: pd.DataFrame, threshold: float
) -> list[str]:
    corpus = pq.read_table(corpus_file).to_pandas()
    text = dict(zip(corpus["doc_id"], corpus["text"]))
    sh: dict[int, set] = {}
    errors = []
    if pairs.duplicated(["doc_a", "doc_b"]).any():
        errors.append("dedup: duplicate pairs reported")
    for a, b, jac in zip(pairs["doc_a"], pairs["doc_b"], pairs["jaccard"]):
        if not a < b:
            errors.append(f"dedup: pair ({a}, {b}) not ordered")
        sa = sh.setdefault(a, _shingles(text[a]))
        sb = sh.setdefault(b, _shingles(text[b]))
        exact = len(sa & sb) / len(sa | sb)
        if abs(exact - jac) > 5e-7 or exact < threshold - 5e-7:
            errors.append(f"dedup: pair ({a}, {b}) jaccard {jac} exact {exact}")
        if len(errors) >= MAX_REPORTED:
            return errors

    parent = {d: d for d in text}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in zip(pairs["doc_a"], pairs["doc_b"]):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want = {d: {"cluster": find(d)} for d in text}  # roots are component minima
    got = {int(d): {"cluster": int(c)} for d, c in zip(clusters["doc"], clusters["cluster"])}
    return errors + _compare("clusters", got, want, {})
