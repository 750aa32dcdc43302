"""Static lints over oracle SQL: catch cross-engine canon divergence at
authoring time.

A checker that compares a Spark frame with a DuckDB frame canonicalizes both
(pandas ``sort_values``, repr-rendered cells) before hashing. Some output
shapes cannot survive that canon: list/struct/map cells crash the sort,
HUGEINT/DECIMAL render differently from Spark's types, signed zeros and
round-half ties render differently. Each lint here flags one such class with
no Spark session, mostly through a one-shot DuckDB ``DESCRIBE`` or execution
of every oracle. Serialize or cast the flagged column in BOTH projections.

Users:
- ``tests/test_oracle_schema.py``: hard gate, every sweep must be empty.
- ``scripts/driver_replica.py``: flags complex-typed or signed-zero columns on
  either side of a checked query as MISMATCH.
"""

from __future__ import annotations

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()

_DEFAULT_SF_DIR = "/root/testdata/sf0.001"


def is_complex_type(ddl_type: str) -> bool:
    """True for DuckDB output types that diverge under a pandas canon:

    - list/struct/map/union — pandas ``sort_values`` crashes on list cells;
    - HUGEINT — fetchdf materializes float64, rendering "5.0" against
      Spark's int "5" (cast aggregates to BIGINT);
    - DECIMAL — fetchdf float64 vs Spark's ``decimal.Decimal`` objects
      render "5.0" vs "5.00" (latent same-class; cast to DOUBLE and round).
    """
    t = ddl_type.strip().upper()
    return (
        "[" in t
        or t.startswith(("STRUCT", "MAP", "UNION", "DECIMAL"))
        or t in ("HUGEINT", "UHUGEINT")
    )


def complex_oracle_outputs(
    oracles: dict[str, str], sf_dir: str = _DEFAULT_SF_DIR
) -> dict[str, list[str]]:
    """DESCRIBE every oracle; return {query: ["col TYPE", ...]} for queries
    whose output schema contains a complex-typed column.

    Oracles that fail to DESCRIBE (or a missing duckdb/testdata) are skipped —
    the real correctness check owns oracle errors; this lint owns only the
    complex-output class.
    """
    import duckdb  # local import: keep the query path importable without it

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    bad: dict[str, list[str]] = {}
    for name, sql in oracles.items():
        try:
            rows = con.execute(f"DESCRIBE {sql}").fetchall()
        except Exception:  # noqa: BLE001 — oracle errors are not this lint's job
            continue
        cols = [f"{r[0]} {r[1]}" for r in rows if is_complex_type(str(r[1]))]
        if cols:
            bad[name] = cols
    con.close()
    return bad


def complex_frame_columns(pdf) -> list[str]:
    """Runtime twin for the replica: pandas columns holding list/array/dict
    cells (what the driver canon would crash sorting)."""
    bad = []
    for c in pdf.columns:
        s = pdf[c].dropna()
        if len(s) == 0:
            continue
        v = s.iloc[0]
        if isinstance(v, (list, tuple, dict, set)) or type(v).__name__ == "ndarray":
            bad.append(c)
    return bad


def negative_zero_frame_columns(pdf) -> list[str]:
    """Float columns containing IEEE ``-0.0`` — the fourth replica/driver
    canon-divergence class: DuckDB ``round()`` preserves the
    sign bit while Spark's ``F.round`` (BigDecimal) strips it, so the
    driver's repr-based canon renders ``-0.0`` vs ``0.0`` and hash-fails on
    numerically identical values. Any signed zero on EITHER side is a risk
    (the engines rarely agree on sign propagation) — normalize at the source
    (oracle: ``round(...) + 0``; Spark: ``F.round(...) + F.lit(0.0)``)."""
    import numpy as np
    import pandas.api.types as pt

    bad = []
    for c in pdf.columns:
        s = pdf[c].dropna()
        if len(s) == 0 or not pt.is_float_dtype(s):
            continue
        v = s.to_numpy(dtype="float64", copy=False)
        if bool(np.any(np.signbit(v) & (v == 0.0))):
            bad.append(c)
    return bad


import re

_PCT_RE = re.compile(r"percentile_(?:cont|disc)\s*\(", re.IGNORECASE)
_WG_RE = re.compile(r"\s*WITHIN\s+GROUP\s*\(\s*ORDER\s+BY\s+", re.IGNORECASE)
_FROM_STOP = re.compile(
    r"\b(WHERE|GROUP|HAVING|QUALIFY|WINDOW|ORDER|LIMIT|UNION|EXCEPT|INTERSECT)\b",
    re.IGNORECASE,
)
_ORDER_SUFFIX = re.compile(r"\s+(ASC|DESC)(\s+NULLS\s+(FIRST|LAST))?\s*$", re.IGNORECASE)


def _balanced_end(s: str, i: int) -> int:
    """``s[i]`` must be '('; return the index just past its matching ')'."""
    depth = 0
    while i < len(s):
        if s[i] == "(":
            depth += 1
        elif s[i] == ")":
            depth -= 1
            if depth == 0:
                return i + 1
        i += 1
    raise ValueError("unbalanced parens")


def _percentile_sites(sql: str):
    """Yield ``(site_start, order_by_expr)`` for every ``percentile_cont`` /
    ``percentile_disc`` aggregate with a WITHIN GROUP clause."""
    for m in _PCT_RE.finditer(sql):
        arg_end = _balanced_end(sql, m.end() - 1)
        wg = _WG_RE.match(sql, arg_end)
        if not wg:
            continue
        group_open = sql.index("(", arg_end, wg.end())
        group_close = _balanced_end(sql, group_open)
        expr = sql[wg.end() : group_close - 1].strip()
        expr = _ORDER_SUFFIX.sub("", expr)
        yield m.start(), expr


def _enclosing_select_start(sql: str, site_start: int) -> int:
    """Index of the SELECT keyword whose select-list contains the site:
    scan backward, skipping sibling paren groups whole; crossing a
    containing '(' (e.g. a ``round(...)`` wrapper) is allowed."""
    bal, i = 0, site_start - 1
    while i >= 0:
        c = sql[i]
        if c == ")":
            bal += 1
        elif c == "(" and bal > 0:
            bal -= 1
        elif bal == 0 and c in "Tt" and i >= 5 and sql[i - 5 : i + 1].upper() == "SELECT":
            j = i - 5
            if j == 0 or not (sql[j - 1].isalnum() or sql[j - 1] == "_"):
                return j
        i -= 1
    raise ValueError("no enclosing SELECT")


def _enclosing_from_clause(sql: str, site_start: int) -> str:
    """FROM clause of the SELECT containing a site: forward scan from the
    enclosing SELECT keyword; the first top-level ``FROM`` (before an
    unmatched ')') belongs to it."""
    i, n = _enclosing_select_start(sql, site_start) + 6, len(sql)
    from_start = None
    while i < n:
        c = sql[i]
        if c == "(":
            i = _balanced_end(sql, i)  # skip nested groups whole
            continue
        if c == ")":
            break  # left the enclosing SELECT without a FROM — give up
        if sql[i : i + 4].upper() == "FROM" and (i + 4 == n or not sql[i + 4].isalnum()):
            from_start = i + 4
            break
        i += 1
    if from_start is None:
        raise ValueError("no enclosing FROM")
    # clause runs until a same-depth stop keyword or unmatched ')'
    j = from_start
    while j < n:
        c = sql[j]
        if c == "(":
            j = _balanced_end(sql, j)
            continue
        if c == ")":
            break
        stop = _FROM_STOP.match(sql, j)
        if stop and (j == 0 or not sql[j - 1].isalnum()):
            break
        j += 1
    return sql[from_start:j].strip()


def _preceding_ctes(sql: str, site_start: int) -> str:
    """The original query's top-level WITH clause, truncated to the CTEs
    fully defined BEFORE the CTE that contains the site (those are exactly
    the names visible to the site's FROM clause). Empty string when the
    site sits in the main SELECT with no earlier CTEs."""
    m = re.match(r"\s*WITH\s+(RECURSIVE\s+)?", sql, re.IGNORECASE)
    if not m:
        return ""
    kept: list[str] = []
    i = m.end()
    while True:
        nm = re.compile(r"\s*([A-Za-z_][\w]*)\s+AS\s*\(", re.IGNORECASE).match(sql, i)
        if not nm:
            break
        open_paren = nm.end() - 1
        close = _balanced_end(sql, open_paren)
        if close <= site_start:
            kept.append(sql[nm.start() : close].strip())
        else:
            break  # the CTE containing the site (or past it) — stop
        i = close
        comma = re.compile(r"\s*,").match(sql, i)
        if not comma:
            break
        i = comma.end()
    if not kept:
        return ""
    head = "WITH RECURSIVE " if m.group(1) else "WITH "
    return head + ", ".join(kept) + " "


def decimal_percentile_orderings(
    oracles: dict[str, str], sf_dir: str = _DEFAULT_SF_DIR
) -> dict[str, list[str]]:
    """Knife-edge percentile boundaries: DuckDB's
    ``percentile_cont``/``percentile_disc`` over a DECIMAL (or HUGEINT)
    ORDER BY expression returns the interpolated boundary ROUNDED to the
    decimal's scale, with build-dependent rounding mode, while Spark's
    ``percentile`` interpolates in DOUBLE — any strict comparison against
    such a boundary can flip between engines for values at the grain
    (as ``analytics_rfm_segmentation`` once did). INTEGER/BIGINT orderings
    round the same way under an input-typed build, so the flag set is an
    ALLOWLIST: for every percentile site in every oracle, this
    probes the ORDER BY expression's DuckDB type in its real CTE context
    (``DESCRIBE WITH <preceding ctes> SELECT <expr> FROM <enclosing from>``)
    and flags ANY ordering that is not DOUBLE/FLOAT/REAL. Fix =
    ``ORDER BY CAST(x AS DOUBLE)`` in the oracle and
    ``percentile(CAST(x AS DOUBLE), ...)`` in Spark — identical binary64
    interpolation on both sides — or remove interpolation from the contract
    entirely (exact rank-ceil(q*n) order statistics, the repaired rfm shape).
    Sites whose context cannot be parsed are reported under
    ``"__unparsed__"`` so they fail loud rather than silent."""
    import duckdb  # local import: keep the query path importable without it

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    bad: dict[str, list[str]] = {}
    for name, sql in oracles.items():
        if "WITHIN GROUP" not in sql.upper():
            continue
        for site_start, expr in _percentile_sites(sql):
            try:
                frm = _enclosing_from_clause(sql, site_start)
                ctes = _preceding_ctes(sql, site_start)
                probe = f"{ctes}SELECT ({expr}) AS _probe FROM {frm}"
                (_, typ, *_rest), = con.execute(f"DESCRIBE {probe}").fetchall()
            except Exception as ex:  # noqa: BLE001 — unparsable context fails loud
                bad.setdefault("__unparsed__", []).append(f"{name}: {expr!r} ({ex})")
                continue
            t_up = str(typ).strip().upper()
            if t_up not in ("DOUBLE", "FLOAT", "REAL", "FLOAT4", "FLOAT8"):
                bad.setdefault(name, []).append(f"ORDER BY {expr} :: {typ}")
    con.close()
    return bad


# DATE-typed output columns render differently between DuckDB fetchdf and
# Spark collect under some canonicalizers (datetime64 vs datetime.date). The
# entries below hash-match under the repr canon of tests/oracle_harness.py
# and scripts/driver_replica.py; the lint therefore gates GROWTH, not
# existence: new oracles must cast DATE outputs
# to VARCHAR in both engines instead of joining this list.
DATE_OUTPUT_ALLOWLIST = frozenset(
    {
        "temporal_week_over_week",  # week DATE
        "func_date_pack",  # month_start DATE
    }
)


def date_oracle_outputs(
    oracles: dict[str, str], sf_dir: str = _DEFAULT_SF_DIR
) -> dict[str, list[str]]:
    """DESCRIBE sweep for DATE-typed output columns.
    TIMESTAMP outputs are left alone — several oracles emit them
    and both engines materialize datetime64[ns]; bare DATE is the divergent
    dtype. Returns hits NOT in ``DATE_OUTPUT_ALLOWLIST``."""
    import duckdb  # local import: keep the query path importable without it

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    bad: dict[str, list[str]] = {}
    for name, sql in oracles.items():
        if name in DATE_OUTPUT_ALLOWLIST:
            continue
        try:
            rows = con.execute(f"DESCRIBE {sql}").fetchall()
        except Exception:  # noqa: BLE001 — oracle errors are not this lint's job
            continue
        cols = [f"{r[0]} {r[1]}" for r in rows if str(r[1]).strip().upper() == "DATE"]
        if cols:
            bad[name] = cols
    con.close()
    return bad


_ROUND_RE = re.compile(r"\bround\s*\(", re.IGNORECASE)
_AS_RE = re.compile(r"\s+AS\s+([A-Za-z_]\w*)", re.IGNORECASE)
_QUOTIENT_RE = re.compile(r"/|\bavg\s*\(|\bmean\s*\(", re.IGNORECASE)

# Functions whose output is (off a measure-zero set) IRRATIONAL: a value
# that passed through one of these cannot sit EXACTLY on a decimal
# round-half tie (ties are rationals of the form odd/(2*10^k)), so the
# round-half tie mechanism — identical exact value, engines splitting on the tie
# — cannot fire; what remains is the accepted det64 residual (both engines
# compute the same binary64 to a few ulps; landing within that noise of a
# half point is ~1e-16-relative probability, the allowlist's det64 class).
# ``power`` is deliberately absent: power(x, 2) is rational.
_IRRATIONAL_RE = re.compile(
    r"\b(sqrt|cbrt|ln|log|log2|log10|exp|stddev|stddev_samp|stddev_pop|"
    r"corr|covar_samp|covar_pop|acos|asin|atan|atan2|sin|cos|tan|sinh|"
    r"cosh|tanh|gamma|lgamma)\s*\(",
    re.IGNORECASE,
)

# Sites adjudicated tie-safe, each with its reason.
# Two safe classes exist:
#   grid  — the rounded expression's EXACT value lives on a decimal grid
#           coarser than 10^-(k+1), so a digit-(k+1) round-half tie cannot
#           exist (e.g. a DECIMAL(18,2)-exact cents sum rounded at k=2: the
#           exact value has 2 decimals, the nearest tie is ~10^-2 away —
#           ~1e10 double ulps at any magnitude).
#   det64 — both engines compute the same binary64 to within at most a few
#           ulps (exact DECIMAL sufficient statistics finished by the same
#           spelled-out IEEE chain, no libm; DuckDB's DECIMAL->DOUBLE cast
#           can double-round once the integer representation exceeds 2^53
#           — as agg_groupby_stats showed — so "identical" is only
#           ulp-exact below that). The residual risk is the value landing
#           within that ulp noise (~1e-16 relative) of a half point on the
#           10^-k grid — noise/grid ~ 1e-7 per cell for the allowlisted
#           columns, the accepted residual class.
# A quotient over data-dependent exact values (avg, count ratios, money/n)
# may NOT be allowlisted — convert it to integer-micro div instead. Two
# more classes survive the no-magnitude-bar quotient rule, each requiring
# the written classification below:
#   irr  — the site's value passes through an irrational transform UPSTREAM
#          of the site expression (the regex can't see it): sqrt/log output
#          is irrational a.e., so no exact decimal round-half tie exists;
#          residual risk is the already-accepted det64 ulp-noise class.
#   rational-composite — the value IS rational, but its exact integer form
#          exceeds the 38-digit DECIMAL/HUGEINT headroom both engines share
#          (e.g. squared second moments). A tie needs the REDUCED
#          denominator of a multi-factor data-dependent product to be
#          exactly 2^(k+1)*5^j — measure-tiny, and covered empirically by
#          the oracle suite at two fixture scales. These are the only
#          rational survivors; everything representable was converted.
ROUND_TIE_ALLOWLIST: dict[str, dict[str, str]] = {
    "events_error_burst_detection": {
        "z_score": "irr: sigma is stddev_samp (sqrt) upstream of the site; quotient irrational a.e., no exact tie",
    },
    "sample_neyman_allocation": {
        "alloc_neyman": "irr: sd and tot.z are stddev (sqrt) terms upstream; value irrational a.e., no exact tie",
    },
    "sample_weighted_reservoir": {
        "res_key": "irr: pow(u, 1/w) with non-integer exponent; value irrational a.e., no exact tie",
    },
    "sim_retrieval_eval_ndcg": {
        "ndcg10": "irr: DCG weights 1/log2(rank+1) upstream; value irrational a.e., no exact tie",
    },
    "sample_ab_welch_ttest": {
        "df_welch": (
            "rational-composite, conversion attempted and IMPOSSIBLE in 38 digits "
            "df = (a0*d1 + a1*d0)^2*(n0-1)(n1-1) / "
            "(p^2(n1-1) + q^2(n0-1)) with a_i = n*sxx - sx^2, d_i = n^2(n-1). Even "
            "at the minimal cents grid a_i ~ 1e19 and p = a0*d1 ~ 1e28 at sf0.1, so "
            "the squares need ~56 digits (e6 scale: ~73) — beyond DECIMAL(38)/"
            "HUGEINT by 18+, and gcd(p, q) is data-dependent (no structural common "
            "factor). DuckDB 1.0.0 has no VARINT, so no exact oracle exists; a "
            "4-limb long-division in SQL would have to be duplicated bug-for-bug in "
            "both engines. Stays float: tie needs the reduced denominator of a "
            "4-factor data-dependent product to be exactly 2^7*5^j — measure-"
            "negligible, covered by the oracle suite at two fixture scales"
        ),
    },
    "agg_approx_percentile": {
        "p50_exact": "grid: interpolation of cents values at fraction grid 0.05 -> 5e-4 grid; no digit-7 tie",
        "p95_exact": "grid: interpolation of cents values at fraction grid 0.05 -> 5e-4 grid; no digit-7 tie",
    },
    "agg_weighted_median": {
        "weighted_median": "grid: output is a raw cents-grid data value (min over cum-weight threshold); no digit-7 tie",
        "weighted_p90": "grid: output is a raw cents-grid data value; no digit-7 tie",
    },
    "agg_having": {
        "total": "grid: DECIMAL-exact cents sum cast to DOUBLE after aggregation; no digit-3 tie",
    },
    "etl_incremental_agg_maintenance": {
        "sum_l_quantity": "grid: exact cents sum (long cents / 100.0 == the DECIMAL->DOUBLE cast's binary64); value on the 1e-2 grid, no digit-3 tie",
        "sum_l_extendedprice": "grid: exact cents sum (long cents / 100.0); value on the 1e-2 grid, no digit-3 tie",
    },
    "etl_manifest_skipping": {
        "revenue": "grid: DECIMAL-exact cents sum; no digit-3 tie",
    },
    "join_bloom_prefilter": {
        "revenue": "grid: DECIMAL-exact cents sum; no digit-3 tie",
    },
    "join_range_band": {
        "total_price": "grid: DECIMAL-exact cents sum; no digit-3 tie",
    },
    "sql_text_parity": {
        "revenue": "grid: DECIMAL-exact cents sum (same ANSI text on both engines); no digit-3 tie",
    },
    "prep_feature_scaling": {
        "price": "grid: raw cents-grid data value rounded at k=6; no digit-7 tie",
        "zscore": "irr: sigma is a sqrt of rational moments upstream; quotient irrational a.e., no exact tie",
    },
    "quality_order_total_reconcile": {
        "p50_abs_delta": "grid: interpolation midpoint of cents-grid deltas -> 5e-3 grid; no digit-5 tie",
        "max_abs_delta": "grid: cents-grid value; no digit-5 tie",
    },
    "sample_ab_cuped_adjustment": {
        "var_raw": "det64: identical binary64 from DECIMAL-exact moments through the same IEEE chain",
        "var_cuped": "det64: identical binary64 from DECIMAL-exact moments through the same IEEE chain",
        "lift_cuped": (
            "rational-composite, conversion attempted and IMPOSSIBLE in 38 digits "
            "lift = dy - theta*dp over a common "
            "denominator is (dy_num*B - A*dp_num) / (n0*n1*B) with A,B ~ 1e19-20 "
            "at the cents grid (sf0.1) and dy_num ~ 1e13, so the numerator needs "
            "~33 digits and grows ~n^3*cents^4 — breaches DECIMAL(38) within ~1.5 "
            "orders of magnitude of fixture scale, and gcd(B, dp_num) has no "
            "structural common factor. theta ITSELF converted to exact "
            "theta_micro (~19 digits — see the query); only this composite "
            "stays float. Tie needs the reduced denominator = 2^7*5^j — "
            "negligible, covered by the oracle suite at two fixture scales"
        ),
    },
    "stream_ohlc_continuous": {
        "sum_value": "grid: DECIMAL(14,6)-exact sum cast to DOUBLE; 1e-6 grid has no digit-7 tie",
    },
    "temporal_ohlc_bars": {
        "sum_value": "grid: DECIMAL(14,6)-exact sum cast to DOUBLE; 1e-6 grid has no digit-7 tie",
    },
    "temporal_sessionize_capped": {
        "duration_sec": "grid: integer-microsecond difference / 1e6 lies exactly on the 1e-6 grid; no digit-7 tie",
    },
    "temporal_theil_sen_slope": {
        "theil_sen_intercept": "det64: identical binary64 (pairwise-slope medians of identical doubles, no libm)",
    },
}


def _round_sites(sql: str):
    """Yield ``(alias_or_None, k, expr)`` for every ``round(expr, k)`` in
    the SQL. The alias is found by scanning forward from the closing paren
    at paren-depth 0 (tolerating arithmetic wrappers like the ``+ 0``
    signed-zero normalization) until ``AS <ident>``, a same-depth comma, or
    a containing ')' ends the select item."""
    for m in _ROUND_RE.finditer(sql):
        open_paren = sql.index("(", m.start())
        try:
            close = _balanced_end(sql, open_paren)
        except ValueError:
            continue
        inner = sql[open_paren + 1 : close - 1]
        # last top-level comma splits expr from k
        depth, split = 0, None
        for i, c in enumerate(inner):
            if c == "(":
                depth += 1
            elif c == ")":
                depth -= 1
            elif c == "," and depth == 0:
                split = i
        if split is None:
            expr, k = inner.strip(), 0
        else:
            expr = inner[:split].strip()
            try:
                k = int(inner[split + 1 :].strip())
            except ValueError:
                continue  # non-literal precision — not this lint's class
        # forward-scan for the alias of the enclosing select item
        alias, i, depth = None, close, 0
        while i < len(sql):
            c = sql[i]
            if c == "(":
                depth += 1
                i = _balanced_end(sql, i)
                depth -= 1
                continue
            if c == ")" or (c == "," and depth == 0):
                break
            am = _AS_RE.match(sql, i)
            if am and depth == 0:
                alias = am.group(1)
                break
            i += 1
        yield alias, k, expr


def round_tie_risk_columns(
    oracles: dict[str, str], sf_dir: str = _DEFAULT_SF_DIR
) -> dict[str, list[str]]:
    """Round-half ties on rounded quotients, swept statically:
    ``round(<double expr>, k)`` in a hashed column diverges between engines
    when the exact value lands on (or within a double ulp of) a round-half
    tie at decimal k+1 — Spark rounds HALF_UP on the decimal expansion of
    the binary64 value, DuckDB rounds in binary, and the two split on ties
    (rfm cell (2,1,2): 68570553.99/32 = 2142829.8121875 exactly). The flag
    criterion: any round(expr, k) output column whose magnitude can reach
    10^(9-k) (the class a 9-significant-digit canon is blind to). Quotient-shaped
    expressions (``avg`` or ``/``) are the proven mechanism — convert them
    to the integer-micro ``div`` pattern; non-quotient hits over exact
    DECIMAL bases may instead join ``ROUND_TIE_ALLOWLIST`` with the
    tie-distance justification.

    Executes each oracle once at ``sf_dir`` (value property, not schema —
    like the signed-zero sweep this lives in the pytest gate). Returns {query: ["alias round(.,k) max|x|=m QUOTIENT", ...]}.
    """
    import duckdb  # local import: keep the query path importable without it

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    bad: dict[str, list[str]] = {}
    for name, sql in oracles.items():
        sites = [(a, k, e) for a, k, e in _round_sites(sql) if a is not None]
        if not sites:
            continue
        # one site per alias: the OUTERMOST round wins (nested rounds of the
        # same item yield the same alias; magnitude check is identical)
        per_alias: dict[str, tuple[int, str]] = {}
        for a, k, e in sites:
            al = a.lower()
            if al not in per_alias or len(e) > len(per_alias[al][1]):
                per_alias[al] = (k, e)
        try:
            pdf = con.execute(sql).fetchdf()
        except Exception:  # noqa: BLE001 — oracle errors are not this lint's job
            continue
        cols = {c.lower(): c for c in pdf.columns}
        allow = ROUND_TIE_ALLOWLIST.get(name, {})
        for al, (k, e) in sorted(per_alias.items()):
            if al not in cols or al in allow:
                continue
            s = pdf[cols[al]].dropna()
            if len(s) == 0:
                continue
            try:
                max_abs = float(s.abs().max())
            except (TypeError, ValueError):
                continue
            quotient = bool(_QUOTIENT_RE.search(e))
            # a live tie in temporal_stl_lite showed the round-half mechanism is MAGNITUDE-
            # INDEPENDENT — a rational quotient p/q lands exactly on a tie
            # whenever its reduced denominator is 2^(k+1)*5^j (e.g. any
            # count divisible by 128 at k=6), at any magnitude. So quotient-
            # shaped sites are flagged with NO magnitude bar unless the
            # site expression passes through an irrationalizing function
            # (no exact tie possible — see _IRRATIONAL_RE). Upstream-
            # irrational chains the site regex cannot see (e.g. a CTE
            # column built with log2) are classified in the allowlist with
            # an ``irr:`` reason.
            rational_quotient = quotient and not _IRRATIONAL_RE.search(e)
            if max_abs >= 10.0 ** (9 - k) or rational_quotient:
                shape = "QUOTIENT" if quotient else "plain"
                bar = "" if max_abs >= 10.0 ** (9 - k) else " sub-bar"
                bad.setdefault(name, []).append(
                    f"{al} round(.,{k}) max|x|={max_abs:.6g} {shape}{bar}"
                )
    con.close()
    return bad


def negative_zero_oracle_outputs(
    oracles: dict[str, str], sf_dir: str = _DEFAULT_SF_DIR
) -> dict[str, list[str]]:
    """Execute every oracle in DuckDB at a small SF and flag queries whose
    output contains a ``-0.0`` cell. Unlike the DESCRIBE sweep this must run
    the query (the sign bit is a value property, not a schema property), so
    it lives in the pytest gate rather than the window pre-flight; a larger
    SF can still surface new signed zeros — the replica's per-frame check at
    sf0.01 covers that tier."""
    import duckdb  # local import: keep the query path importable without it

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    bad: dict[str, list[str]] = {}
    for name, sql in oracles.items():
        try:
            pdf = con.execute(sql).fetchdf()
        except Exception:  # noqa: BLE001 — oracle errors are not this lint's job
            continue
        cols = negative_zero_frame_columns(pdf)
        if cols:
            bad[name] = cols
    con.close()
    return bad
