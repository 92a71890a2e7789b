"""ANSI-SQL replication of the DDSketch algorithm, for DuckDB oracles.

The DDSketch quantile is a *deterministic* function of the input multiset
(LogarithmicMapping): bucket index ``floor(ln(v) * multiplier)``, counts per
bucket, then the rank walk ``first bucket where cumulative > q*(n-1)`` with
representative value ``exp(i / multiplier) * (1 + alpha)``
(``DDSketch.java:353-388``, ``LogLikeIndexMapping.java:113-121``). This module
emits SQL that computes exactly that, with the same float constants our NumPy
kernel uses (full-precision ``repr`` literals, and the same
multiply-for-index / divide-for-value operand order), so a DuckDB run on the
same rows produces hash-identical results to the distributed Spark pipeline —
a stronger correctness gate than tolerance checks.

Final values are ROUNDed (default 4 digits) on BOTH sides to absorb the
<=1-ulp libm differences between DuckDB's and NumPy's exp/ln.

Known template limitation: the vals CTE filters NULL values before grouping,
so a group whose values are ALL NULL is absent from the oracle output, while
the pipeline (SQL-group semantics) emits it with count 0. None of the harness
tables contain such groups; avoid them in new oracle-paired queries or add an
explicit anti-join for the empty groups.
"""

from __future__ import annotations

from typing import Optional, Sequence

from .mapping import LogarithmicMapping

__all__ = [
    "log_mapping_constants",
    "ddsketch_quantile_sql",
    "ddsketch_cdf_sql",
    "ddsketch_row_rank_sql",
    "quantile_col",
]


def quantile_col(q: float) -> str:
    from .spark.agg import quantile_column_name

    return quantile_column_name(q)


def log_mapping_constants(alpha: float) -> dict:
    m = LogarithmicMapping.from_relative_accuracy(alpha)
    return {
        "gamma": m.gamma,
        "multiplier": m.multiplier,
        "alpha": m.relative_accuracy,
        "min_indexed": m.min_indexable_value,
    }


def _bucket_cte(
    sign: str, g_cols: str, g_group: str, mult: str, minidx: str, count_agg: str
) -> str:
    """Bucket aggregation for one store: sign '+' (v > minidx) or '-'.

    The index uses the kernel's exact floor semantics (`_java_floor`,
    LogLikeIndexMapping.java:113-116): truncation-toward-zero minus one for
    negatives — i.e. floor(x) - 1 when x is an exact negative integer.
    """
    vexpr = "v" if sign == "+" else "-v"
    where = f"v > {minidx}" if sign == "+" else f"v < -{minidx}"
    java_floor = (
        "CAST(FLOOR(x) AS BIGINT) - (CASE WHEN x < 0 AND x = FLOOR(x) THEN 1 ELSE 0 END)"
    )
    w_pass = ", w" if "SUM(w)" in count_agg else ""
    return (
        f"SELECT {g_cols}{java_floor} AS i, {count_agg} AS c FROM ("
        f"SELECT {g_cols}LN({vexpr}) * {mult} AS x{w_pass} FROM vals WHERE {where}"
        f") GROUP BY {g_group}"
    )


def _oracle_preamble(
    alpha: float,
    group_col: Optional[str],
    weight_expr: Optional[str],
    value_expr: str,
    source_sql: str,
    collapse_policy: Optional[str] = None,
    max_bins: int = 0,
) -> dict:
    """Shared fragment set + the ``WITH vals/pos/neg/zero`` prologue used by
    BOTH oracle generators (quantile and CDF) — a fix to the bucket model
    (index floor, zero-bucket boundary, NULL filtering, collapse clamp)
    lands in exactly one place."""
    c = log_mapping_constants(alpha)
    p = {
        "mult": repr(c["multiplier"]),
        "a": repr(c["alpha"]),
        "minidx": repr(c["min_indexed"]),
        "g_sel": f"{group_col} AS g, " if group_col else "",
        "g_cols": "g, " if group_col else "",
        "g_part": "PARTITION BY g" if group_col else "",
        "g_group2": "1, 2" if group_col else "1",
        "g_group1": "GROUP BY 1" if group_col else "",
        "w_sel": f", CAST({weight_expr} AS DOUBLE) AS w" if weight_expr else "",
        "count_agg": (
            "CAST(SUM(w) AS DOUBLE)" if weight_expr else "CAST(COUNT(*) AS DOUBLE)"
        ),
        "final_g": f"g AS {group_col},\n  " if group_col else "",
    }
    pos_cte = _bucket_cte("+", p["g_cols"], p["g_group2"], p["mult"], p["minidx"], p["count_agg"])
    neg_cte = _bucket_cte("-", p["g_cols"], p["g_group2"], p["mult"], p["minidx"], p["count_agg"])
    if collapse_policy:
        pos_cte = _collapse_wrap(pos_cte, collapse_policy, max_bins, p["g_cols"], p["g_part"], p["g_group2"])
        neg_cte = _collapse_wrap(neg_cte, collapse_policy, max_bins, p["g_cols"], p["g_part"], p["g_group2"])
    p["prologue"] = f"""WITH vals AS (
  SELECT {p["g_sel"]}CAST({value_expr} AS DOUBLE) AS v{p["w_sel"]}
  FROM {source_sql}
  WHERE ({value_expr}) IS NOT NULL
),
pos AS ({pos_cte}),
neg AS ({neg_cte}),
zero AS (
  SELECT {p["g_cols"]}{p["count_agg"]} AS c FROM vals
  WHERE v >= -{p["minidx"]} AND v <= {p["minidx"]} {p["g_group1"]}
)"""
    return p


def ddsketch_cdf_sql(
    source_sql: str,
    value_expr: str,
    xs: Sequence[float],
    x_names: Sequence[str],
    alpha: float = 0.01,
    group_col: Optional[str] = None,
    round_digits: int = 4,
    weight_expr: Optional[str] = None,
) -> str:
    """SQL computing the DDSketch value->rank (CDF) estimates of
    ``value_expr`` at each probe in ``xs`` — the inverse of
    ``ddsketch_quantile_sql`` over the same bucket model: every bucket
    contributes its whole count at its representative value
    ``±EXP(i/mult)*(1+alpha)`` (zero bucket at 0), and
    ``cdf(x) = SUM(c WHERE val <= x) / n``.

    Output columns: [group_col?] + x_names + count. Probe values should not
    sit within libm ulp distance of a bucket representative (never the case
    for round decimals — representatives are exp-of-rational points);
    otherwise the ``val <= x`` comparison could bucket-flip between engines.
    NaN probes yield no mass (``val <= NaN`` is never true), matching the
    kernel's NaN propagation up to the NULL-vs-NaN output convention.
    """
    p = _oracle_preamble(alpha, group_col, weight_expr, value_expr, source_sql)
    g_cols, g_group1, g_part = p["g_cols"], p["g_group1"], p["g_part"]
    mult, a = p["mult"], p["a"]

    x_selects = [
        f"ROUND(SUM(CASE WHEN val <= {x!r} THEN c ELSE 0 END) / MAX(n), {round_digits}) AS {name}"
        for x, name in zip(xs, x_names)
    ]
    x_select_sql = ",\n  ".join(x_selects)

    return f"""
{p["prologue"]},
walk AS (
  SELECT {g_cols}-EXP(i / {mult}) * (1.0 + {a}) AS val, c FROM neg
  UNION ALL
  SELECT {g_cols}0.0 AS val, c FROM zero WHERE c > 0
  UNION ALL
  SELECT {g_cols}EXP(i / {mult}) * (1.0 + {a}) AS val, c FROM pos
),
cumw AS (
  SELECT {g_cols}val, c, SUM(c) OVER ({g_part}) AS n FROM walk
)
SELECT {p["final_g"]}{x_select_sql},
  CAST(MAX(n) AS DOUBLE) AS count
FROM cumw {g_group1}
"""


def ddsketch_trimmed_mean_sql(
    source_sql: str,
    value_expr: str,
    lo: float,
    hi: float,
    alpha: float = 0.01,
    group_col: Optional[str] = None,
    round_digits: int = 4,
) -> str:
    """SQL replaying ``DDSketch.trimmed_means`` over the same bucket model
    as the quantile/CDF twins: per-bucket kept counts are exact double
    arithmetic on exact integers (``LEAST(cum, n-k_hi) - GREATEST(cum-c,
    k_lo)`` clipped to [0, c]), and the dot ``sum(kept*val)`` folds
    LEFT-TO-RIGHT over ascending representative values starting from 0.0
    via ``list_reduce(list_prepend(0.0, list(... ORDER BY val)))`` — the
    identical IEEE expression tree the scalar ``DDSketch.trimmed_means``
    loop and the Spark kernel's ``np.bincount`` fold evaluate, so the
    means hash-match at round-4. Winsorized boundary values resolve
    with the kernel's ``searchsorted(cum, r, 'right')`` convention: the
    first (ascending) bucket whose cumulative count exceeds the rank.

    Pairs with ``track_exact_stats=False`` configs (no [min,max] clamp in
    the walk). Groups whose values are all NULL have no walk rows and are
    absent (the kernel keeps them with NULL means — don't gate on such
    groups). Output: [group_col?, trimmed_mean, winsorized_mean, count].
    """
    p = _oracle_preamble(alpha, group_col, None, value_expr, source_sql)
    g_cols, g_part, g_group1 = p["g_cols"], p["g_part"], p["g_group1"]
    mult, a = p["mult"], p["a"]
    lo_r, hi_r = repr(float(lo)), repr(float(hi))

    return f"""
{p["prologue"]},
walk AS (
  SELECT {g_cols}-EXP(i / {mult}) * (1.0 + {a}) AS val, c FROM neg
  UNION ALL
  SELECT {g_cols}0.0 AS val, c FROM zero WHERE c > 0
  UNION ALL
  SELECT {g_cols}EXP(i / {mult}) * (1.0 + {a}) AS val, c FROM pos
),
cumw AS (
  SELECT {g_cols}val, c,
         SUM(c) OVER ({g_part} ORDER BY val) AS cum,
         SUM(c) OVER ({g_part}) AS n
  FROM walk
),
cuts AS (
  SELECT {g_cols}val, c, cum, n,
         FLOOR({lo_r} * n) AS klo, FLOOR({hi_r} * n) AS khi
  FROM cumw
),
kept AS (
  SELECT {g_cols}val, cum, n, klo, khi,
         GREATEST(LEAST(cum, n - khi) - GREATEST(cum - c, klo), 0.0) AS k
  FROM cuts
),
bounds AS (
  SELECT {g_cols}
         MIN(CASE WHEN cum > klo THEN val END) AS vlo,
         MIN(CASE WHEN cum > n - khi - 1 THEN val END) AS vhi,
         MAX(val) AS vmax
  FROM kept {g_group1}
),
tsum AS (
  SELECT {g_cols}
         list_reduce(list_prepend(0.0, list(k * val ORDER BY val)),
                     (acc, x) -> acc + x) AS t,
         MAX(n) AS n, MAX(klo) AS klo, MAX(khi) AS khi
  FROM kept {g_group1}
)
SELECT {p["final_g"]}
  ROUND(t / (n - klo - khi), {round_digits}) AS trimmed_mean,
  ROUND(((klo * coalesce(vlo, vmax) + t) + khi * coalesce(vhi, vmax)) / n,
        {round_digits}) AS winsorized_mean,
  CAST(n AS DOUBLE) AS count
FROM tsum {"JOIN bounds USING (g)" if group_col else "CROSS JOIN bounds"}
"""


def ddsketch_row_rank_sql(
    source_sql: str,
    value_expr: str,
    id_cols: Sequence[str],
    alpha: float = 0.01,
    group_col: Optional[str] = None,
    round_digits: int = 4,
    out_col: str = "pct_rank",
) -> str:
    """SQL computing the per-ROW DDSketch CDF (value -> rank at each row's
    OWN value) — the twin of ``agg.percentile_rank_scores``: the same
    bucket walk as ``ddsketch_cdf_sql``, but each source row is resolved
    with an ASOF join on the representative values (largest rep <= x and
    its cumulative mass — exactly the kernel's ``searchsorted(...,
    'right')``). Rows with NULL values rank NULL; rows below every
    representative rank 0.0; a group whose values are all NULL has no
    walk rows and ranks NULL (the LEFT joins leave n NULL).

    Output columns: id_cols + [group_col?] + out_col (ROUNDed). Same
    ulp caveat as the CDF twin, now at data-value probes: a row's value
    within libm-ulp distance of a representative could bucket-flip between
    engines — probability ~ n_rows * 2^-52 per gate, absorbed in practice
    by the ROUND and validated at both SFs.
    """
    p = _oracle_preamble(alpha, group_col, None, value_expr, source_sql)
    g_cols, g_part = p["g_cols"], p["g_part"]
    mult, a = p["mult"], p["a"]
    ids = ", ".join(id_cols)
    if group_col:
        row_g = f"{group_col} AS g, "
        out_g = f"r.g AS {group_col}, "
        join_g = "r.g = c.val_g AND "
        tot_on = "ON r.g = t.g"
    else:
        row_g, out_g, join_g, tot_on = "", "", "", "ON TRUE"

    return f"""
{p["prologue"]},
walk AS (
  SELECT {g_cols}-EXP(i / {mult}) * (1.0 + {a}) AS val, c FROM neg
  UNION ALL
  SELECT {g_cols}0.0 AS val, c FROM zero WHERE c > 0
  UNION ALL
  SELECT {g_cols}EXP(i / {mult}) * (1.0 + {a}) AS val, c FROM pos
),
cumw AS (
  SELECT {"g AS val_g, " if group_col else ""}val,
         SUM(c) OVER ({g_part} ORDER BY val) AS cum
  FROM walk
),
tot AS (
  SELECT {g_cols}SUM(c) AS n FROM walk {p["g_group1"]}
),
rows_src AS (
  SELECT {ids}, {row_g}CAST({value_expr} AS DOUBLE) AS x FROM {source_sql}
)
SELECT {ids}, {out_g}
  CASE WHEN r.x IS NULL OR t.n IS NULL THEN NULL
       ELSE ROUND(coalesce(c.cum, 0) / t.n, {round_digits}) END AS {out_col}
FROM rows_src r
ASOF LEFT JOIN cumw c ON {join_g}c.val <= r.x
LEFT JOIN tot t {tot_on}
"""


def _collapse_wrap(inner: str, policy: str, max_bins: int, g_cols: str, g_part: str, g_group: str) -> str:
    """Wrap a bucket CTE with the collapse clamp (reference test model:
    clamp index against the store's global extreme)."""
    if policy == "collapsing_lowest":
        clamp = f"GREATEST(i, MAX(i) OVER ({g_part}) - {max_bins} + 1)"
    elif policy == "collapsing_highest":
        clamp = f"LEAST(i, MIN(i) OVER ({g_part}) + {max_bins} - 1)"
    else:
        raise ValueError(f"unknown collapse policy {policy!r}")
    return (
        f"SELECT {g_cols}i2 AS i, SUM(c) AS c FROM ("
        f"SELECT {g_cols}{clamp} AS i2, c FROM ({inner})"
        f") GROUP BY {g_group}"
    )


def ddsketch_quantile_sql(
    source_sql: str,
    value_expr: str,
    qs: Sequence[float],
    alpha: float = 0.01,
    group_col: Optional[str] = None,
    round_digits: int = 4,
    collapse_policy: Optional[str] = None,
    max_bins: int = 0,
    extra_aggs: str = "",
    weight_expr: Optional[str] = None,
    clamp_to_exact: bool = False,
) -> str:
    """SQL computing DDSketch(log mapping, alpha) quantiles of ``value_expr``
    over ``source_sql`` (table name or parenthesized subquery).

    Output columns: [group_col?] + [qXX...] + count (+ ``extra_aggs`` SQL
    appended verbatim to the final select list, evaluated over the walk CTE).
    ``collapse_policy`` in {None, 'collapsing_lowest', 'collapsing_highest'}
    replicates the store-collapse clamp in SQL.

    ``clamp_to_exact=True`` clamps each quantile into the exact [MIN(v),
    MAX(v)] — matching a kernel with ``track_exact_stats=True`` (the
    SketchConfig default). With it False, pair only against sketches built
    with ``track_exact_stats=False``; otherwise extreme quantiles diverge
    by the clamp.
    """
    # integer weights keep bucket counts exactly representable; callers should
    # not pass fractional weights to a hash-compared oracle
    p = _oracle_preamble(
        alpha, group_col, weight_expr, value_expr, source_sql,
        collapse_policy=collapse_policy, max_bins=max_bins,
    )
    g_cols, g_group1, g_part = p["g_cols"], p["g_group1"], p["g_part"]
    mult, a = p["mult"], p["a"]
    final_g = p["final_g"]

    q_selects = []
    for q in qs:
        name = quantile_col(q)
        qv = f"MIN(CASE WHEN cum > {q!r} * (n - 1) THEN val END)"
        if clamp_to_exact:
            qv = f"LEAST(GREATEST({qv}, MIN(mn)), MAX(mx))"
        q_selects.append(f"ROUND({qv}, {round_digits}) AS {name}")
    q_select_sql = ",\n  ".join(q_selects)
    extra = f",\n  {extra_aggs}" if extra_aggs else ""
    extrema_cte = (
        f",\nextrema AS (\n  SELECT {g_cols}MIN(v) AS mn, MAX(v) AS mx FROM vals {g_group1}\n)"
        if clamp_to_exact
        else ""
    )
    final_from = (
        ("cumw JOIN extrema USING (g)" if group_col else "cumw, extrema")
        if clamp_to_exact
        else "cumw"
    )

    return f"""
{p["prologue"]},
walk AS (
  SELECT {g_cols}0 AS part, -i AS ord, -EXP(i / {mult}) * (1.0 + {a}) AS val, c FROM neg
  UNION ALL
  SELECT {g_cols}1 AS part, 0 AS ord, 0.0 AS val, c FROM zero WHERE c > 0
  UNION ALL
  SELECT {g_cols}2 AS part, i AS ord, EXP(i / {mult}) * (1.0 + {a}) AS val, c FROM pos
),
cumw AS (
  SELECT {g_cols}val, c,
         SUM(c) OVER ({g_part} ORDER BY part, ord ROWS UNBOUNDED PRECEDING) AS cum,
         SUM(c) OVER ({g_part}) AS n
  FROM walk
){extrema_cte}
SELECT {final_g}{q_select_sql},
  CAST(MAX(n) AS DOUBLE) AS count{extra}
FROM {final_from} {g_group1}
"""


def kmeans_sql(
    src: str,
    k: int = 8,
    iters: int = 4,
    dim: int = 64,
    scale_bits: int = 20,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    round_digits: int = 4,
) -> str:
    """DuckDB twin of ``dataops.kmeans_embeddings`` — replays every Lloyd
    iteration from scratch with unrolled MATERIALIZED CTEs (the BPE-twin
    discipline: every multiply-referenced CTE materialized, or inlining
    explodes). Bit-exactness mirrors the operator's contract: quantized
    int64 coordinates (floor(x*2^scale_bits + 0.5)), order-free HUGEINT
    centroid numerators cast to DOUBLE for ONE division per coordinate, a
    left-associative ``(e[i]-c[i])*(e[i]-c[i])`` distance term chain
    matching the operator's pinned fold order, argmin ties to the smallest
    cluster id (QUALIFY row_number ORDER BY dist, j), empty clusters
    carried over via LEFT JOIN + COALESCE."""
    scale = repr(float(2**scale_bits))
    dist = " + ".join(
        f"(x.e[{i}] - cc.c[{i}]) * (x.e[{i}] - cc.c[{i}])" for i in range(1, dim + 1)
    )
    parts = [
        f"q AS MATERIALIZED (SELECT {id_col}, list_transform({emb_col}, "
        f"v -> CAST(floor(CAST(v AS DOUBLE) * {scale} + 0.5) AS BIGINT)) AS q "
        f"FROM {src})",
        f"x AS MATERIALIZED (SELECT {id_col}, "
        f"list_transform(q, v -> CAST(v AS DOUBLE) / {scale}) AS e FROM q)",
        f"c0 AS MATERIALIZED (SELECT CAST(row_number() OVER (ORDER BY {id_col}) - 1 "
        f"AS INTEGER) AS j, list_transform(q, v -> CAST(v AS DOUBLE) / {scale}) AS c "
        f"FROM (SELECT {id_col}, q FROM q ORDER BY {id_col} LIMIT {k}))",
    ]
    sums = ", ".join(
        f"CAST(SUM(q[{i}]) AS DOUBLE) / (COUNT(*) * {scale})" for i in range(1, dim + 1)
    )
    for t in range(iters):
        parts.append(
            f"a{t} AS MATERIALIZED (SELECT {id_col}, j FROM ("
            f"SELECT x.{id_col}, cc.j, ({dist}) AS dist FROM x CROSS JOIN c{t} cc) "
            f"QUALIFY row_number() OVER (PARTITION BY {id_col} "
            f"ORDER BY dist, j) = 1)"
        )
        parts.append(
            f"c{t + 1} AS MATERIALIZED (SELECT p.j, COALESCE(n.c, p.c) AS c "
            f"FROM c{t} p LEFT JOIN ("
            f"SELECT a.j, list_value({sums}) AS c "
            f"FROM a{t} a JOIN q USING ({id_col}) GROUP BY a.j) n ON n.j = p.j)"
        )
    return (
        "WITH " + ",\n".join(parts) + "\n"
        f"SELECT {id_col}, j AS cluster, ROUND(dist, {round_digits}) AS dist FROM ("
        f"SELECT x.{id_col}, cc.j, ({dist}) AS dist FROM x CROSS JOIN c{iters} cc) "
        f"QUALIFY row_number() OVER (PARTITION BY {id_col} ORDER BY dist, j) = 1 "
        f"ORDER BY {id_col}"
    )


def udd_quantile_sql(
    src: str,
    value_expr: str,
    qs: Sequence[float],
    alpha: float = 0.01,
    max_bins: int = 64,
    max_level: int = 20,
    round_digits: int = 4,
) -> str:
    """DuckDB twin of ``sketches.uddsketch.udd_quantiles`` — replays the
    exact histogram (``ceil(ln(v)/ln(gamma))`` indices, integer counts),
    the smallest-fitting uniform-collapse level search (``ceil(i / 2^c)``
    on doubles over an unrolled 0..max_level grid), the rank rule
    ``floor(q*(n-1)) + 1``, and the paper's harmonic-mean representative
    ``2 * gamma_c^j / (gamma_c + 1)``. All counts are integers; the only
    floats are the shared double constants and EXP reps (ROUND-absorbed,
    the ddsketch-walk precedent)."""
    import math as _math

    lng = repr(_math.log((1.0 + alpha) / (1.0 - alpha)))
    levels = ", ".join(f"({c})" for c in range(max_level + 1))
    q_cols = []
    for q in qs:
        qc = quantile_col(q)
        q_cols.append(
            f"ROUND(EXP({lng} * (SELECT p FROM lv) * ("
            f"SELECT MIN(j) FROM cum WHERE cum >= "
            f"floor({q!r} * ((SELECT n FROM nn) - 1)) + 1)) * 2.0 / "
            f"(EXP({lng} * (SELECT p FROM lv)) + 1.0), {round_digits}) AS {qc}"
        )
    return f"""
WITH b AS MATERIALIZED (
  SELECT CAST(ceil(ln(v) / {lng}) AS BIGINT) AS i, COUNT(*) AS c
  FROM (SELECT {value_expr} AS v FROM {src} WHERE {value_expr} > 0) GROUP BY 1
),
lv AS MATERIALIZED (
  SELECT MIN(l) AS c, power(2.0, MIN(l)) AS p FROM (VALUES {levels}) t(l)
  WHERE (SELECT COUNT(DISTINCT CAST(ceil(CAST(i AS DOUBLE) / power(2.0, l))
         AS BIGINT)) FROM b) <= {max_bins}
),
fj AS MATERIALIZED (
  SELECT CAST(ceil(CAST(i AS DOUBLE) / (SELECT p FROM lv)) AS BIGINT) AS j,
         SUM(c) AS c
  FROM b GROUP BY 1
),
nn AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM fj),
cum AS MATERIALIZED (
  SELECT j, SUM(c) OVER (ORDER BY j ROWS UNBOUNDED PRECEDING) AS cum FROM fj
)
SELECT
  {", ".join(q_cols)},
  CAST((SELECT n FROM nn) AS DOUBLE) AS count,
  (SELECT COUNT(*) FROM b) AS n_bins_raw,
  CAST((SELECT c FROM lv) AS INTEGER) AS collapse_level,
  (SELECT COUNT(*) FROM fj) AS n_bins,
  ROUND((EXP({lng} * (SELECT p FROM lv)) - 1.0) /
        (EXP({lng} * (SELECT p FROM lv)) + 1.0), 6) AS alpha_final
"""


def udd_quantile_by_sql(
    src: str,
    value_expr: str,
    group_col: str,
    qs: Sequence[float],
    alpha: float = 0.01,
    max_bins: int = 64,
    max_level: int = 20,
    round_digits: int = 4,
) -> str:
    """Grouped DuckDB twin of ``sketches.uddsketch.udd_quantiles_by`` —
    every group gets its OWN collapse level from the same unrolled level
    grid (GROUP BY (group, level) distinct-bucket counts, min fitting
    level per group), then the per-group walk; identical arithmetic to
    the global twin."""
    import math as _math

    lng = repr(_math.log((1.0 + alpha) / (1.0 - alpha)))
    levels = ", ".join(f"({c})" for c in range(max_level + 1))
    q_cols = []
    for q in qs:
        qc = quantile_col(q)
        q_cols.append(
            f"ROUND(EXP({lng} * lv.p * (SELECT MIN(j) FROM cum "
            f"WHERE cum.g = lv.g AND cum.cum >= "
            f"floor({q!r} * (nn.n - 1)) + 1)) * 2.0 / "
            f"(EXP({lng} * lv.p) + 1.0), {round_digits}) AS {qc}"
        )
    return f"""
WITH b AS MATERIALIZED (
  SELECT g, CAST(ceil(ln(v) / {lng}) AS BIGINT) AS i, COUNT(*) AS c
  FROM (SELECT {group_col} AS g, {value_expr} AS v FROM {src}
        WHERE {value_expr} > 0 AND {group_col} IS NOT NULL) GROUP BY 1, 2
),
cnts AS MATERIALIZED (
  SELECT g, l, COUNT(DISTINCT CAST(ceil(CAST(i AS DOUBLE) / power(2.0, l))
    AS BIGINT)) AS nb
  FROM b CROSS JOIN (VALUES {levels}) t(l) GROUP BY 1, 2
),
lv AS MATERIALIZED (
  SELECT g, MIN(l) AS c, power(2.0, MIN(l)) AS p FROM cnts
  WHERE nb <= {max_bins} GROUP BY g
),
fj AS MATERIALIZED (
  SELECT b.g, CAST(ceil(CAST(i AS DOUBLE) / lv.p) AS BIGINT) AS j,
         SUM(b.c) AS c
  FROM b JOIN lv ON b.g = lv.g GROUP BY 1, 2
),
nn AS (SELECT g, CAST(SUM(c) AS BIGINT) AS n FROM fj GROUP BY g),
raw AS (SELECT g, COUNT(*) AS nbr FROM b GROUP BY g),
nf AS (SELECT g, COUNT(*) AS nb2 FROM fj GROUP BY g),
cum AS MATERIALIZED (
  SELECT g, j, SUM(c) OVER (PARTITION BY g ORDER BY j
    ROWS UNBOUNDED PRECEDING) AS cum FROM fj
)
SELECT lv.g AS {group_col},
  {", ".join(q_cols)},
  CAST(nn.n AS DOUBLE) AS count,
  raw.nbr AS n_bins_raw,
  CAST(lv.c AS INTEGER) AS collapse_level,
  nf.nb2 AS n_bins,
  ROUND((EXP({lng} * lv.p) - 1.0) / (EXP({lng} * lv.p) + 1.0), 6)
    AS alpha_final
FROM lv JOIN nn USING (g) JOIN raw USING (g) JOIN nf USING (g)
ORDER BY 1
"""


def fd_covariance_sql(
    src: str,
    dim: int = 64,
    l: int = 32,
    scale_bits: int = 20,
    emb_col: str = "embedding",
    round_digits: int = 4,
) -> str:
    """DuckDB twin of ``dataops.fd_covariance``'s partitioning-invariant
    outputs: the exact integer second-moment frame (quantized
    ``floor(x*2^scale_bits + 0.5)`` int64, HUGEINT sums — order-free,
    bit-identical to the operator's Python-int driver reduce), the
    Frobenius norm and FD error bound (one correctly-rounded HUGEINT ->
    DOUBLE cast then exact power-of-two divisions — identical IEEE trees
    both engines since ``l`` is a power of two), and the argmax dimension
    with smallest-index tie-break. The three theorem-guaranteed booleans
    (spectral bound, PSD, diagonal deviation) are TRUE by the FD merge
    theorem for ANY partitioning — the set_overlap/LSH-recall gate
    discipline (validated at both SFs)."""
    if l & (l - 1):
        raise ValueError("l must be a power of two (exact double division)")
    scale = repr(float(2**scale_bits))
    sq = repr(float(2 ** (2 * scale_bits)))
    return f"""
WITH q AS MATERIALIZED (
  SELECT list_transform({emb_col}, v ->
    CAST(floor(CAST(v AS DOUBLE) * {scale} + 0.5) AS BIGINT)) AS q
  FROM {src}
),
e AS (SELECT unnest(q) AS v, unnest(generate_series(1, {dim})) AS i FROM q),
m AS MATERIALIZED (SELECT i, SUM(CAST(v AS HUGEINT) * v) AS m2 FROM e GROUP BY i),
t AS (SELECT i, m2 FROM m ORDER BY m2 DESC, i LIMIT 1),
f AS (SELECT SUM(m2) AS fro FROM m)
SELECT
  (SELECT COUNT(*) FROM q) AS n_vectors,
  CAST({dim} AS BIGINT) AS dims,
  CAST({l} AS BIGINT) AS sketch_rows,
  ROUND(CAST((SELECT fro FROM f) AS DOUBLE) / {sq}, {round_digits}) AS fro_sq,
  ROUND(2.0 * (CAST((SELECT fro FROM f) AS DOUBLE) / {sq}) / {float(l)!r},
        {round_digits}) AS bound,
  CAST((SELECT i FROM t) AS BIGINT) AS top_dim,
  ROUND(CAST((SELECT m2 FROM t) AS DOUBLE) / {sq}, {round_digits}) AS top_dim_m2,
  TRUE AS spec_bound_ok,
  TRUE AS psd_ok,
  TRUE AS top_dim_within_bound
"""


def pagerank_sql(
    edges_sql: str,
    iters: int = 5,
    scale_bits: int = 32,
    damping_num: int = 17,
    damping_den: int = 20,
    round_digits: int = 4,
) -> str:
    """DuckDB twin of ``spark.graph.pagerank`` — replays every iteration
    with unrolled MATERIALIZED CTEs (the kmeans/BPE-twin discipline).
    ``edges_sql`` must yield columns ``src, dst`` (pre-deduplicated,
    NULL-free). All arithmetic is BIGINT floor division (DuckDB ``//`` on
    positive BIGINTs == Spark ``DIV``), so every rank_scaled is
    bit-identical to the operator's; the display rank is one exact
    power-of-two division."""
    scale = 1 << scale_bits
    base = ((damping_den - damping_num) * scale) // damping_den
    parts = [
        f"e AS MATERIALIZED ({edges_sql})",
        "nodes AS MATERIALIZED "
        "(SELECT src AS node FROM e UNION SELECT dst FROM e)",
        "deg AS MATERIALIZED (SELECT n.node, COALESCE(d.deg, 0) AS deg "
        "FROM nodes n LEFT JOIN (SELECT src AS node, COUNT(*) AS deg "
        "FROM e GROUP BY 1) d USING (node))",
        "nn AS MATERIALIZED (SELECT COUNT(*) AS n FROM nodes)",
        f"r0 AS MATERIALIZED (SELECT node, deg, CAST({scale} AS BIGINT) AS r "
        "FROM deg)",
    ]
    for t in range(iters):
        parts.append(
            f"d{t} AS MATERIALIZED (SELECT COALESCE(SUM(r), 0) // "
            f"(SELECT n FROM nn) AS ds FROM r{t} WHERE deg = 0)"
        )
        parts.append(
            f"c{t} AS MATERIALIZED (SELECT e.dst AS node, "
            f"SUM(r.r // r.deg) AS contrib "
            f"FROM e JOIN r{t} r ON r.node = e.src GROUP BY 1)"
        )
        parts.append(
            # SUM widens to HUGEINT in DuckDB; cast each round's rank back
            # to BIGINT so the final column matches Spark's long (values
            # are in-range by the operator's overflow contract)
            f"r{t + 1} AS MATERIALIZED (SELECT g.node, g.deg, "
            f"CAST({base} + ({damping_num} * "
            f"(COALESCE(c.contrib, 0) + (SELECT ds FROM d{t}))) "
            f"// {damping_den} AS BIGINT) AS r "
            f"FROM deg g LEFT JOIN c{t} c USING (node))"
        )
    return (
        "WITH " + ",\n".join(parts) + "\n"
        f"SELECT node, r AS rank_scaled, "
        f"ROUND(CAST(r AS DOUBLE) / {float(scale)!r}, {round_digits}) AS rank "
        f"FROM r{iters} ORDER BY rank_scaled DESC, node"
    )


def triangle_counts_sql(edges_sql: str) -> str:
    """DuckDB twin of ``spark.graph.triangle_counts`` — replays the exact
    degree-ordered orientation: normalize + dedup the undirected pair,
    count degrees, orient each edge by the ``(degree, node)`` row-value
    order (DuckDB row comparison == Spark struct comparison, both
    lexicographic), generate wedges at the smaller corner, close with the
    oriented edge, then count corners per node. ``edges_sql`` must yield
    columns ``a, b`` (raw — NULLs, self-loops, duplicates, and reversed
    duplicates are handled here exactly as in the operator). All integer,
    partition-order-free, hash-exact."""
    return (
        f"WITH re AS MATERIALIZED ({edges_sql}), "
        "und AS MATERIALIZED (SELECT DISTINCT least(a, b) AS x, "
        "greatest(a, b) AS y FROM re "
        "WHERE a IS NOT NULL AND b IS NOT NULL AND a <> b), "
        "deg AS MATERIALIZED (SELECT node, COUNT(*) AS dg FROM "
        "(SELECT x AS node FROM und UNION ALL SELECT y FROM und) "
        "GROUP BY node), "
        "o AS MATERIALIZED (SELECT "
        "CASE WHEN (dx.dg, u.x) < (dy.dg, u.y) THEN u.x ELSE u.y END AS src, "
        "CASE WHEN (dx.dg, u.x) < (dy.dg, u.y) THEN u.y ELSE u.x END AS dst, "
        "CASE WHEN (dx.dg, u.x) < (dy.dg, u.y) THEN dy.dg ELSE dx.dg END "
        "AS dst_dg "
        "FROM und u JOIN deg dx ON dx.node = u.x "
        "JOIN deg dy ON dy.node = u.y), "
        "tri AS (SELECT w.u, w.v, w.w FROM "
        "(SELECT o1.src AS u, o1.dst AS v, o2.dst AS w FROM o o1 JOIN o o2 "
        "ON o1.src = o2.src AND (o1.dst_dg, o1.dst) < (o2.dst_dg, o2.dst)) w "
        "JOIN o oc ON oc.src = w.v AND oc.dst = w.w) "
        "SELECT node, COUNT(*) AS triangles FROM "
        "(SELECT u AS node FROM tri UNION ALL SELECT v FROM tri "
        "UNION ALL SELECT w FROM tri) GROUP BY node ORDER BY node"
    )


def kcore_sql(edges_sql: str, k: int, rounds: int) -> str:
    """DuckDB twin of ``spark.graph.kcore`` — unrolls a FIXED ``rounds``
    peeling rounds as MATERIALIZED CTEs (the pagerank/BPE discipline;
    peeling is idempotent at the fixpoint, so ``rounds`` only needs to be
    >= the true peel depth — the operator RAISES if its own
    ``max_rounds`` is exceeded, which keeps the two statements aligned).
    ``edges_sql`` must yield raw columns ``a, b``; NULLs, self-loops and
    (reversed) duplicates are normalized here exactly as in the
    operator."""
    if rounds < 1:
        raise ValueError(f"rounds must be >= 1, got {rounds}")
    parts = [
        f"re AS MATERIALIZED ({edges_sql})",
        "e0 AS MATERIALIZED (SELECT DISTINCT least(a, b) AS x, "
        "greatest(a, b) AS y FROM re "
        "WHERE a IS NOT NULL AND b IS NOT NULL AND a <> b)",
    ]
    for t in range(rounds):
        parts.append(
            f"d{t} AS MATERIALIZED (SELECT node, COUNT(*) AS degree FROM "
            f"(SELECT x AS node FROM e{t} UNION ALL SELECT y FROM e{t}) "
            "GROUP BY node)"
        )
        parts.append(
            f"k{t} AS MATERIALIZED (SELECT node FROM d{t} "
            f"WHERE degree >= {int(k)})"
        )
        parts.append(
            f"e{t + 1} AS MATERIALIZED (SELECT x, y FROM e{t} "
            f"WHERE x IN (SELECT node FROM k{t}) "
            f"AND y IN (SELECT node FROM k{t}))"
        )
    return (
        "WITH " + ",\n".join(parts) + "\n"
        f"SELECT node, degree FROM (SELECT node, COUNT(*) AS degree FROM "
        f"(SELECT x AS node FROM e{rounds} UNION ALL SELECT y FROM e{rounds}) "
        f"GROUP BY node) WHERE degree >= {int(k)} ORDER BY node"
    )


def snapshot_diff_sql(
    old_sql: str,
    new_sql: str,
    keys: list[str],
    compare_cols: list[str],
) -> str:
    """DuckDB twin of ``spark.cdc.snapshot_diff`` (direct-compare mode):
    full-outer join on ``keys``, presence indicators decide I/D, NULL-safe
    ``IS DISTINCT FROM`` per compare column decides U, ``changed_cols``
    replays Spark's NULL-skipping ``concat_ws`` via list_filter."""
    kj = " AND ".join(f"o.{k} = n.{k}" for k in keys)
    ksel = ", ".join(f"COALESCE(o.{k}, n.{k}) AS {k}" for k in keys)
    osel = ", ".join(f"o.{c} AS old_{c}" for c in compare_cols)
    nsel = ", ".join(f"n.{c} AS new_{c}" for c in compare_cols)
    diffs = [f"old_{c} IS DISTINCT FROM new_{c}" for c in compare_cols]
    any_diff = " OR ".join(f"({d})" for d in diffs)
    changed_items = ", ".join(
        f"CASE WHEN {d} THEN '{c}' END" for c, d in zip(compare_cols, diffs)
    )
    out_cols = (
        ", ".join(keys)
        + ", op, changed_cols, "
        + ", ".join(f"old_{c}" for c in compare_cols)
        + ", "
        + ", ".join(f"new_{c}" for c in compare_cols)
    )
    return (
        f"WITH o AS MATERIALIZED (SELECT *, 1 AS __o FROM ({old_sql})), "
        f"n AS MATERIALIZED (SELECT *, 1 AS __n FROM ({new_sql})), "
        f"j AS (SELECT {ksel}, {osel}, {nsel}, o.__o, n.__n "
        f"FROM o FULL JOIN n ON {kj}), "
        "d AS (SELECT *, CASE WHEN __o IS NULL THEN 'I' "
        "WHEN __n IS NULL THEN 'D' "
        f"WHEN {any_diff} THEN 'U' END AS op, "
        f"CASE WHEN __o IS NOT NULL AND __n IS NOT NULL AND ({any_diff}) "
        f"THEN array_to_string(list_filter([{changed_items}], "
        "x -> x IS NOT NULL), ',') ELSE '' END AS changed_cols FROM j) "
        f"SELECT {out_cols} FROM d WHERE op IS NOT NULL"
    )


def apply_changes_sql(
    base_sql: str,
    changes_sql: str,
    keys: list[str],
    value_cols: list[str],
    ts_col: str = "ts",
    seq_col: str | None = None,
    op_col: str = "op",
    delete_op: str = "D",
) -> str:
    """DuckDB twin of ``spark.cdc.apply_changes``: latest change per key
    via QUALIFY row_number (same ``(ts DESC, seq DESC)`` order), base rows
    anti-joined on changed keys, non-delete upserts unioned in."""
    order = f"{ts_col} DESC" + (f", {seq_col} DESC" if seq_col else "")
    part = ", ".join(keys)
    cols = part + ", " + ", ".join(value_cols)
    anti = " AND ".join(f"l.{k} = b.{k}" for k in keys)
    return (
        f"WITH b AS MATERIALIZED ({base_sql}), "
        f"c AS MATERIALIZED ({changes_sql}), "
        f"latest AS (SELECT * FROM c QUALIFY row_number() OVER "
        f"(PARTITION BY {part} ORDER BY {order}) = 1) "
        f"SELECT {cols} FROM b WHERE NOT EXISTS "
        f"(SELECT 1 FROM latest l WHERE {anti}) "
        f"UNION ALL SELECT {cols} FROM latest WHERE {op_col} <> '{delete_op}'"
    )


def scd2_history_sql(
    changes_sql: str,
    keys: list[str],
    attr_cols: list[str],
    ts_col: str = "ts",
    seq_col: str | None = None,
    collapse: bool = True,
) -> str:
    """DuckDB twin of ``spark.cdc.scd2_history``: same ``(ts, seq)`` window
    order, NULL-safe change detection vs lag (equality is transitive, so
    immediate-predecessor compare == last-kept-row compare), lead() for
    interval ends, epoch_us integers (never rendered timestamps)."""
    order = f"{ts_col} ASC" + (f", {seq_col} ASC" if seq_col else "")
    part = ", ".join(keys)
    w = f"(PARTITION BY {part} ORDER BY {order})"
    attrs = ", ".join(attr_cols)
    src = f"({changes_sql})"
    if collapse:
        keep = " OR ".join(
            f"({c} IS DISTINCT FROM lag({c}) OVER {w})" for c in attr_cols
        )
        src = (
            f"(SELECT * FROM (SELECT *, ({keep}) "
            f"OR lag({ts_col}) OVER {w} IS NULL AS __keep "
            f"FROM ({changes_sql})) WHERE __keep)"
        )
    return (
        f"SELECT {part}, {attrs}, valid_from_us, valid_to_us, "
        "valid_to_us IS NULL AS is_current FROM "
        f"(SELECT {part}, {attrs}, epoch_us({ts_col}) AS valid_from_us, "
        f"lead(epoch_us({ts_col})) OVER {w} AS valid_to_us FROM {src})"
    )


_ZORDER_SPREAD1 = (
    (16, 0x0000FFFF0000FFFF),
    (8, 0x00FF00FF00FF00FF),
    (4, 0x0F0F0F0F0F0F0F0F),
    (2, 0x3333333333333333),
    (1, 0x5555555555555555),
)
_ZORDER_SPREAD2 = (
    (32, 0x1F00000000FFFF),
    (16, 0x1F0000FF0000FF),
    (8, 0x100F00F00F00F00F),
    (4, 0x10C30C30C30C30C3),
    (2, 0x1249249249249249),
)


def zorder_key_sql(src_sql: str, cols: list[str], bits: int = 16) -> str:
    """DuckDB twin of ``spark.layout.zorder_key``: identical integer
    min/max step normalization (``//`` == Spark ``div`` on non-negative
    operands) and the same shift/mask Morton spread, one nested SELECT per
    spread stage (lateral re-use kept out on purpose — each stage
    references the previous exactly once, so the text stays linear).
    Returns ``SELECT *, zkey FROM (src)`` with the stats CTE cross-joined;
    column i of ``cols`` occupies bit positions ``i + k*len(cols)``."""
    table = _ZORDER_SPREAD1 if len(cols) == 2 else _ZORDER_SPREAD2
    if len(cols) not in (2, 3):
        raise ValueError("z-order interleaves exactly 2 or 3 columns")
    full = 1 << bits
    stats = ", ".join(
        f"MIN(CAST({c} AS BIGINT)) AS __mn{i}, "
        f"((MAX(CAST({c} AS BIGINT)) - MIN(CAST({c} AS BIGINT))) >> {bits}) + 1 "
        f"AS __st{i}, "
        f"CASE WHEN MAX(CAST({c} AS BIGINT)) - MIN(CAST({c} AS BIGINT)) "
        f">= {full} THEN 1 ELSE {full} // "
        f"(MAX(CAST({c} AS BIGINT)) - MIN(CAST({c} AS BIGINT)) + 1) END "
        f"AS __mu{i}"
        for i, c in enumerate(cols)
    )
    scaled = ", ".join(
        f"((coalesce(CAST({c} AS BIGINT), __mn{i}) - __mn{i}) // __st{i}) "
        f"* __mu{i} AS __z{i}"
        for i, c in enumerate(cols)
    )
    inner = (
        f"SELECT s.*, {scaled} FROM ({src_sql}) s "
        f"CROSS JOIN (SELECT {stats} FROM ({src_sql}))"
    )
    for shift, mask in table:
        stage = ", ".join(
            f"(__z{i} | (__z{i} << {shift})) & {mask} AS __z{i}"
            for i in range(len(cols))
        )
        inner = f"SELECT * EXCLUDE ({', '.join(f'__z{i}' for i in range(len(cols)))}), {stage} FROM ({inner})"
    key = " | ".join(f"(__z{i} << {i})" for i in range(len(cols)))
    zcols = ", ".join(f"__z{i}" for i in range(len(cols)))
    return f"SELECT * EXCLUDE ({zcols}), {key} AS zkey FROM ({inner})"
