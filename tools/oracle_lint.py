"""Oracle reseed-sensitivity lint (round 15; VERDICT r14 item 4).

Mechanizes the rule the r14 reseed flips were triaged under (SCALE.md
"Reseed-sensitivity triage"): a DuckDB oracle that FLOORs / ROUNDs /
CEILs an expression containing a FLOAT-VALUED AGGREGATE — or applies
integer division ``//`` to one — produces a value that sits some
epsilon from an integer boundary. Spark and DuckDB sum floats in
different orders; when the true value is a small-denominator rational
that lands EXACTLY on the boundary (the g_pagerank_tree e6 class), a
1-ulp summation-order wobble flips the floored result and the hash
with it, on some fixture reseed if not this one.

Safe-by-construction spellings the lint recognizes and passes:
  * floor/round over ROW-LEVEL expressions (no aggregate inside):
    the floor happens before summation, so order cannot move it;
  * floor/round over INTEGER aggregates — ``SUM(CAST(FLOOR(x*100) AS
    BIGINT))`` and friends: both engines sum identical integers;
  * ``COUNT``-only aggregates (always integral).

Everything else is a SUSPECT site and must either be respelled in
scaled BIGINTs (the standing fix) or carry an ALLOWLIST entry below
naming why its boundary cannot be grid-aligned. The allowlist key is
(query_name, site_index_within_oracle) with a fingerprint so a
rewritten oracle invalidates stale entries.

Run:  python tools/oracle_lint.py          # exit 0 = no unexplained flags
Wired into the round-close gates next to plan_audit via
tests/test_oracle_lint.py.
"""

from __future__ import annotations

import re
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

sys.path.insert(0, ROOT)

#: Aggregates whose result is float-valued unless their argument is
#: integral (MIN/MAX are order-free — a reseed cannot wobble them —
#: so they are deliberately NOT flagged).
#: Quantile-family aggregates are deliberately absent: they are
#: ORDER-FREE (a deterministic function of the value multiset, like
#: MIN/MAX) — summation order cannot wobble them, which is the only
#: failure mode this lint hunts.
FLOAT_AGGS = (
    "SUM", "AVG", "MEAN", "STDDEV", "STDDEV_SAMP", "STDDEV_POP",
    "VARIANCE", "VAR_SAMP", "VAR_POP", "CORR", "COVAR_POP", "COVAR_SAMP",
    "GEOMEAN", "PRODUCT", "REGR_SLOPE", "REGR_INTERCEPT",
)
AGG_RE = re.compile(
    r"\b(" + "|".join(FLOAT_AGGS) + r"|COUNT|COUNT_IF|MIN|MAX)\s*\(", re.I
)
FLOOR_RE = re.compile(r"\b(FLOOR|ROUND|CEIL|CEILING)\s*\(", re.I)


def _balanced_arg(s: str, open_idx: int) -> str:
    """Return the contents of the paren group opening at ``open_idx``
    (which must point at '(')."""
    depth = 0
    for i in range(open_idx, len(s)):
        if s[i] == "(":
            depth += 1
        elif s[i] == ")":
            depth -= 1
            if depth == 0:
                return s[open_idx + 1 : i]
    return s[open_idx + 1 :]  # unbalanced: take the tail (lint stays loud)


def _aggregates_in(expr: str) -> list[tuple[str, str]]:
    """(name, argument) for every aggregate call inside ``expr``."""
    out = []
    for m in AGG_RE.finditer(expr):
        out.append((m.group(1).upper(), _balanced_arg(expr, m.end() - 1)))
    return out


#: SQL keywords / integer-valued functions ignored by the identifier
#: walk in ``_is_integral_expr``.
_KEYWORDS = {
    "case", "when", "then", "else", "end", "and", "or", "not", "in",
    "is", "null", "between", "distinct", "cast", "as", "bigint", "int",
    "integer", "smallint", "tinyint", "hugeint", "ubigint", "uinteger",
    "true", "false", "interval", "day", "days", "hour", "hours", "like",
    "over", "partition", "by", "order", "rows", "range", "unbounded",
    "preceding", "following", "current", "row", "select", "from",
    "where", "group", "filter", "asc", "desc", "nulls", "last", "first",
}
_INT_FUNCS = {
    "length", "strlen", "octet_length", "cardinality", "count",
    "count_if", "abs", "coalesce", "greatest", "least", "ifnull", "if",
    "floor", "ceil", "ceiling", "sign", "list_count", "len", "array_length",
    "date_diff", "datediff", "date_part", "datepart", "year", "month",
    "dayofweek", "week", "quarter", "hash", "strpos", "instr", "position",
    "row_number", "rank", "dense_rank", "ntile", "mod", "bit_count",
    "levenshtein", "sum", "min", "max",  # nested agg args checked on their own
}
_FLOAT_FUNC_RE = re.compile(
    r"\b(LN|LOG|LOG2|LOG10|EXP|SQRT|POW|POWER|SIN|COS|TAN|ATAN2?|ASIN|"
    r"ACOS|RADIANS|DEGREES|PI|RANDOM|AVG|MEAN|STDDEV\w*|VAR\w*|CORR|"
    r"COVAR\w*|MEDIAN|QUANTILE\w*|PERCENTILE\w*)\s*\(",
    re.I,
)


_TYPE_WORDS = (
    "bigint", "int", "integer", "smallint", "tinyint", "hugeint",
    "ubigint", "uinteger", "double", "float", "real", "varchar", "date",
    "timestamp", "boolean", "decimal", "numeric",
)


def _alias_definitions(sql: str) -> list[tuple[str, str]]:
    """Every ``<expr> AS name`` pair, with the expression recovered by
    a backward balanced walk from the AS keyword to the enclosing
    top-level comma / clause keyword. Type names after CAST's AS are
    skipped."""
    out = []
    for m in re.finditer(r"\bAS\s+(\w+)", sql, re.I):
        name = m.group(1).lower()
        if name in _TYPE_WORDS:
            continue  # CAST(... AS BIGINT) — a type, not an alias
        # walk backwards: stop at a top-level ',' or clause keyword
        i = m.start() - 1
        depth = 0
        start = 0
        while i >= 0:
            c = sql[i]
            if c == ")":
                depth += 1
            elif c == "(":
                if depth == 0:
                    start = i + 1
                    break
                depth -= 1
            elif c == "," and depth == 0:
                start = i + 1
                break
            i -= 1
        expr = sql[start : m.start()].strip()
        # trim a leading clause keyword (SELECT foo AS x / THEN ... )
        expr = re.sub(
            r"^(?:SELECT|WHERE|HAVING|THEN|ELSE|WHEN|ON|BY|UNION|ALL|"
            r"INTERSECT|EXCEPT|RETURNING)\b\s*",
            "",
            expr,
            flags=re.I,
        )
        if expr:
            out.append((expr, name))
    return out


def _split_top_level(s: str, seps: str) -> list[str]:
    """Split on top-level (unparenthesized) occurrences of any char in
    ``seps``; a leading unary +/- is not a separator."""
    parts, depth, cur = [], 0, []
    prev_nonspace = ""
    for ch in s:
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        if (
            depth == 0
            and ch in seps
            and not (ch in "+-" and (not prev_nonspace or prev_nonspace in "(,+-*/%<>="))
        ):
            parts.append("".join(cur))
            cur = []
        else:
            cur.append(ch)
        if not ch.isspace():
            prev_nonspace = ch
    parts.append("".join(cur))
    return [p for p in (p.strip() for p in parts) if p]


#: Functions whose result is integral whatever the argument.
_ALWAYS_INT_FN = (
    "FLOOR|CEIL|CEILING|COUNT|COUNT_IF|LENGTH|STRLEN|OCTET_LENGTH|"
    "CARDINALITY|ROW_NUMBER|RANK|DENSE_RANK|NTILE|SIGN|LEVENSHTEIN|"
    "BIT_COUNT|STRPOS|INSTR|POSITION|YEAR|MONTH|DAYOFWEEK|WEEK|QUARTER|"
    "DATE_DIFF|DATEDIFF|DATE_PART|DATEPART|HASH|UNICODE|ASCII|EXTRACT"
)
#: Functions transparent to integrality (integral iff every arg is).
_TRANSPARENT_FN = (
    "COALESCE|IFNULL|ABS|GREATEST|LEAST|MIN|MAX|SUM|MOD|NULLIF|"
    "LIST|ARRAY_AGG|LIST_VALUE|UNNEST|FIRST|LAST|ANY_VALUE|ARG_MIN|"
    "ARG_MAX|LAG|LEAD|FIRST_VALUE|LAST_VALUE|IF|MEDIAN"
)


def _expr_integral_by_shape(expr: str, int_names: set[str], depth: int = 0) -> bool:
    """Integral-VALUED by outermost shape: CAST-to-int / FLOOR / COUNT
    etc. are integral no matter what they wrap (their inner float math
    is row-level and deterministic); transparent wrappers recurse;
    top-level + - * % chains need every part integral; `//` chains are
    integral by construction; otherwise fall back to the leaf test."""
    if depth > 12:
        return False
    e = expr.strip()
    while e.startswith("(") and _balanced_arg(e, 0).strip() == e[1:-1].strip():
        e = e[1:-1].strip()
    if not e:
        return False
    if re.match(r"^-?\d+$", e):
        return True
    m = re.match(r"^CAST\s*\(", e, re.I)
    if m and len(e) == m.end() + len(_balanced_arg(e, m.end() - 1)) + 1:
        inner = _balanced_arg(e, m.end() - 1)
        tail = re.search(r"\bAS\s+(\w+)\s*(?:\(\s*\d+(?:\s*,\s*\d+)?\s*\))?\s*$", inner, re.I)
        if tail:
            t = tail.group(1).lower()
            if re.fullmatch(r"u?(?:big|small|tiny|huge)?int(?:eger)?", t):
                return True
            if t in ("double", "float", "real"):  # value-preserving
                return _expr_integral_by_shape(inner[: tail.start()], int_names, depth + 1)
        return False
    m = re.match(rf"^(?:{_ALWAYS_INT_FN})\s*\(", e, re.I)
    if m and len(e) >= m.end() + len(_balanced_arg(e, m.end() - 1)) + 1:
        rest = e[m.end() + len(_balanced_arg(e, m.end() - 1)) + 1 :].strip()
        # allow a trailing OVER (...) window clause
        if not rest or re.fullmatch(r"OVER\s*\(.*\)", rest, re.I | re.S):
            return True
    m = re.match(r"^ROUND\s*\(", e, re.I)
    if m and len(e) == m.end() + len(_balanced_arg(e, m.end() - 1)) + 1:
        return len(_split_top_level(_balanced_arg(e, m.end() - 1), ",")) == 1
    m = re.match(rf"^(?:{_TRANSPARENT_FN})\s*\(", e, re.I)
    if m:
        inner = _balanced_arg(e, m.end() - 1)
        rest = e[m.end() + len(inner) + 1 :].strip()
        if not rest or re.fullmatch(r"OVER\s*\(.*\)", rest, re.I | re.S):
            # strip ORDER BY inside aggregate args (LIST(x ORDER BY y))
            inner = re.split(r"\bORDER\s+BY\b", inner, flags=re.I)[0]
            return all(
                _expr_integral_by_shape(a, int_names, depth + 1)
                for a in _split_top_level(inner, ",")
            )
    m = re.match(r"^LIST_TRANSFORM\s*\(", e, re.I)
    if m and len(e) == m.end() + len(_balanced_arg(e, m.end() - 1)) + 1:
        # integral iff the lambda body maps every element to an integer
        args = _split_top_level(_balanced_arg(e, m.end() - 1), ",")
        lam = re.match(r"^\(?\s*\w+\s*\)?\s*->\s*(.*)$", args[-1], re.S)
        return bool(lam) and _expr_integral_by_shape(lam.group(1), int_names, depth + 1)
    if re.match(r"^CASE\b", e, re.I):
        branches = re.findall(
            r"\b(?:THEN|ELSE)\s+(.*?)(?=\bWHEN\b|\bELSE\b|\bEND\b)", e, re.I | re.S
        )
        return bool(branches) and all(
            _expr_integral_by_shape(b, int_names, depth + 1) for b in branches
        )
    # floor-division chain: integral-valued result
    no_idiv = e.replace("//", " __IDIV__ ")
    parts = _split_top_level(no_idiv, "+-")
    if len(parts) > 1:
        return all(
            _expr_integral_by_shape(p.replace("__IDIV__", "//"), int_names, depth + 1)
            for p in parts
        )
    if "__IDIV__" in no_idiv:
        # left-assoc same-tier chain a * b // c * d = (((a*b)//c)*d):
        # the // makes everything to its left integral; only factors
        # AFTER the LAST // (beyond the divisor itself) must be checked
        if "/" in no_idiv.replace("__IDIV__", ""):
            return False
        tail = no_idiv.rsplit("__IDIV__", 1)[1]
        tail_parts = _split_top_level(tail, "*%")
        return all(
            _expr_integral_by_shape(p.replace("__IDIV__", "//"), int_names, depth + 1)
            for p in tail_parts[1:]
        )
    mul_parts = _split_top_level(no_idiv, "*%")
    if len(mul_parts) > 1:
        return all(
            _expr_integral_by_shape(p, int_names, depth + 1) for p in mul_parts
        )
    # subscripted list access: q[i] is integral iff q's elements are
    m = re.match(r"^(\w+(?:\.\w+)?)\s*\[", e)
    if m:
        return m.group(1).split(".")[-1].lower() in int_names
    return _is_integral_expr(e, int_names)


def _int_defined_names(sql: str, base_int_cols: set[str]) -> set[str]:
    """Fixpoint over alias definitions: a name is integral-valued when
    its defining expression is, given the names already proven."""
    defs = _alias_definitions(sql)
    names = set(base_int_cols)
    for _ in range(5):
        grew = False
        for expr, name in defs:
            if name not in names and _expr_integral_by_shape(expr, names):
                names.add(name)
                grew = True
        if not grew:
            break
    return names


def _fixture_int_columns() -> set[str]:
    """Integer-typed columns of the fixture tables (read once from the
    smallest SF's parquet footers)."""
    import glob

    import pyarrow.parquet as pq

    cols: set[str] = set()
    for path in glob.glob("/root/testdata/sf0.001/*.parquet"):
        try:
            schema = pq.read_schema(path)
        except OSError:
            continue
        for field in schema:
            if str(field.type).startswith(("int", "uint")):
                cols.add(field.name.lower())
    return cols


def _is_integral_expr(expr: str, int_names: set[str]) -> bool:
    """True when every addend the expression feeds into a float SUM is
    integral-VALUED (exact under any summation order below 2^53): no
    float literals, no true division, no float functions, and every
    bare identifier resolves to an integer-valued name. A floor-div
    (``//``) chain is integral-valued by construction."""
    e = re.sub(r"'[^']*'", "", expr)
    e = e.replace("//", " __IDIV__ ")
    if "/" in e:
        return False
    if re.search(r"\d\.\d|(?<![\w.])\.\d|\d\.(?!\w)", e):
        return False  # float literal
    if _FLOAT_FUNC_RE.search(e):
        return False
    if "__IDIV__" in e:
        return True  # floor-division: integral-valued result
    for ident in re.findall(r"[A-Za-z_][A-Za-z_0-9]*(?:\.[A-Za-z_][A-Za-z_0-9]*)*", e):
        low = ident.split(".")[-1].lower()
        if low in _KEYWORDS or low in _INT_FUNCS or low == "__idiv__":
            continue
        if low not in int_names:
            return False
    return True


# _is_integral_expr is referenced by _expr_integral_by_shape below;
# both live behind the alias fixpoint in _int_defined_names.


def _agg_is_integral(name: str, arg: str, int_names: set[str]) -> bool:
    """True when the aggregate cannot wobble with summation order:
    COUNT (always integral), MIN/MAX (order-free), or integral-VALUED
    addends — CAST-to-int / FLOOR / CASE-over-ints / etc. by shape
    (exact float summation below 2^53)."""
    if name in ("COUNT", "COUNT_IF", "MIN", "MAX"):
        return True
    # strip an aggregate-internal ORDER BY / FILTER tail
    arg = re.split(r"\bORDER\s+BY\b|\bFILTER\b", arg, flags=re.I)[0]
    return _expr_integral_by_shape(arg, int_names)


def _strip_comments(sql: str) -> str:
    return re.sub(r"--[^\n]*", "", sql)


def _left_operand(sql: str, op_idx: int) -> str:
    """The expression chain feeding the LEFT side of an operator at
    ``op_idx``: walk backwards over `primary` tokens (paren groups with
    an optional function name, identifiers, numbers) connected by * or
    % (same precedence tier as //)."""
    i = op_idx - 1
    start = op_idx
    while i >= 0:
        while i >= 0 and sql[i].isspace():
            i -= 1
        if i < 0:
            break
        if sql[i] == ")":
            depth = 0
            while i >= 0:
                if sql[i] == ")":
                    depth += 1
                elif sql[i] == "(":
                    depth -= 1
                    if depth == 0:
                        break
                i -= 1
            i -= 1
            # function name before the paren group
            while i >= 0 and (sql[i].isalnum() or sql[i] in "_.$"):
                i -= 1
        elif sql[i].isalnum() or sql[i] in "_.$]":
            if sql[i] == "]":  # subscript: walk back through [ ]
                while i >= 0 and sql[i] != "[":
                    i -= 1
                i -= 1
            while i >= 0 and (sql[i].isalnum() or sql[i] in "_.$"):
                i -= 1
        else:
            break
        start = i + 1
        # continue through a same-tier chain (* or %); stop otherwise
        j = i
        while j >= 0 and sql[j].isspace():
            j -= 1
        if j >= 0 and sql[j] in "*%":
            i = j - 1
        else:
            break
    return sql[start:op_idx]


def scan_oracle(sql: str, base_int_cols: set[str] | None = None) -> list[dict]:
    """All suspect sites in one oracle: floor/round/ceil whose argument
    contains a float-valued aggregate, plus `//` applied near one."""
    sql = _strip_comments(sql)
    int_names = _int_defined_names(sql, base_int_cols or set())
    sites = []
    for m in FLOOR_RE.finditer(sql):
        fn = m.group(1).upper()
        arg = _balanced_arg(sql, m.end() - 1)
        aggs = _aggregates_in(arg)
        floats = [(n, a) for n, a in aggs if not _agg_is_integral(n, a, int_names)]
        if floats:
            sites.append(
                {
                    "kind": fn,
                    "snippet": re.sub(r"\s+", " ", sql[m.start() : m.end() + min(len(arg) + 1, 120)]).strip(),
                    "aggs": [n for n, _ in floats],
                    "agg_sites": floats,
                    "arg": arg,
                }
            )
    # DuckDB integer division over a float aggregate (g_triangle_count
    # class): x // y floors; flag when the LEFT OPERAND of `//` carries
    # a float-valued aggregate (the operand is recovered by a backward
    # balanced walk over the `primary (*|%) primary` chain).
    for m in re.finditer(r"//", sql):
        left = _left_operand(sql, m.start())
        aggs = _aggregates_in(left)
        floats = [(n, a) for n, a in aggs if not _agg_is_integral(n, a, int_names)]
        if floats:
            sites.append(
                {
                    "kind": "//",
                    "snippet": re.sub(r"\s+", " ", sql[max(0, m.start() - 60) : m.start() + 60]).strip(),
                    "aggs": [n for n, _ in floats],
                    "agg_sites": floats,
                    "arg": left,
                }
            )
    return sites


#: Aggregates with no integer-exact one-call respelling: suggest the
#: integer-moment-sums decomposition instead of a scaled single SUM.
_MOMENT_AGGS = {
    "STDDEV", "STDDEV_SAMP", "STDDEV_POP", "VARIANCE", "VAR_SAMP",
    "VAR_POP", "CORR", "COVAR_POP", "COVAR_SAMP", "REGR_SLOPE",
    "REGR_INTERCEPT",
}


def suggest_rewrite(site: dict) -> str:
    """The integer-exact respelling for a flagged site (round 16,
    VERDICT r15 item 7): steer NEW oracles to the scaled-BIGINT
    spelling at write time instead of allowlisting after. The
    suggestion must be applied to BOTH the oracle SQL and the Spark
    query — floor each addend BEFORE the sum so both engines sum
    identical integers (the SCALE.md reseed-triage class fix)."""
    # recover the scale: ROUND(expr, d) -> 10^d; FLOOR(expr * K) -> K
    arg = site.get("arg", "")
    scale = "1000000 /*pick the metric's grid*/"
    if site["kind"] == "ROUND":
        parts = _split_top_level(arg, ",")
        if len(parts) == 2 and re.fullmatch(r"\d+", parts[1]):
            scale = str(10 ** int(parts[1]))
    else:
        m_scale = re.search(r"\*\s*(\d+(?:_\d+)*)\s*$", arg.strip())
        if m_scale:
            scale = m_scale.group(1)
    name, inner = site.get("agg_sites", [("SUM", "x")])[0]
    inner = re.split(r"\bORDER\s+BY\b|\bFILTER\b", inner, flags=re.I)[0].strip()
    inner = re.sub(r"\s+", " ", inner)
    if len(inner) > 60:
        inner = inner[:57] + "..."
    if name in _MOMENT_AGGS:
        return (
            f"no single-call integer-exact spelling for {name}; compute it "
            f"from integer moment sums — n = COUNT(*), s1 = SUM(CAST(FLOOR("
            f"({inner}) * {scale}) AS BIGINT)), s2 = SUM(CAST(FLOOR(({inner})"
            f" * {scale}) AS BIGINT) * CAST(FLOOR(({inner}) * {scale}) AS "
            "BIGINT)) — and assemble the moment from (n, s1, s2) in exact "
            "integer arithmetic in BOTH engines"
        )
    if name in ("AVG", "MEAN"):
        return (
            f"SUM(CAST(FLOOR(({inner}) * {scale}) AS BIGINT)) // "
            f"COUNT({inner}) — floor each addend BEFORE the sum (apply the "
            "same spelling in the Spark query) so both engines divide "
            "identical integers"
        )
    return (
        f"SUM(CAST(FLOOR(({inner}) * {scale}) AS BIGINT)) AS <metric>_e"
        f"{len(scale.split()[0]) - 1} — floor each addend BEFORE the sum "
        "(apply the same spelling in the Spark query) so both engines sum "
        "identical integers"
    )


#: (query_name, site_index) -> (snippet_prefix, reason-class). Every
#: entry documents why the floored value cannot sit ON a boundary —
#: the SCALE.md class-(b) argument, by class:
#:
#:   price-sum  floor/round of a float SUM/AVG whose addends are the
#:              fixture's synthetic prices/quantities/discounts with
#:              random fractional parts: the true value is not a
#:              small-denominator rational, so a 1-ulp summation-order
#:              wobble crosses a rounding boundary only with
#:              ~measure-zero probability (15 rounds of reseeds agree).
#:   ratio      a ratio of two such float sums scaled to a fixed grid:
#:              boundary alignment would need the ratio of two large
#:              random sums to be an exact grid rational.
#:   logprob    AVG of float log-probabilities / embedding components:
#:              irrational-valued by construction.
#:   moment     STDDEV/VAR/CORR of float prices: irrational-valued.
#:
#: GRID-ALIGNED metrics (small-denominator rationals: ranks, ppm
#: counts, exact fractions of small integers — the two r14 flips) may
#: NOT be allowlisted — respell them in scaled BIGINTs. A rewritten
#: oracle invalidates its entry via the snippet-prefix check, so stale
#: approvals fail loudly.
ALLOWLIST: dict[tuple[str, int], tuple[str, str]] = {
    ("a_global_totals", 0): ("ROUND(SUM(l_quantity), 2)", "price-sum"),
    ("a_global_totals", 1): ("ROUND(AVG(l_discount), 6)", "price-sum"),
    ("a_group_by_all_revenue", 0): ("ROUND(SUM(l_extendedprice * (1 - l_discount)), 2", "price-sum"),
    ("a_grouping_sets", 0): ("ROUND(SUM(l_quantity), 2)", "price-sum"),
    ("a_having_big_customers", 0): ("ROUND(SUM(o_totalprice), 2)", "price-sum"),
    ("a_rollup_flag_status", 0): ("ROUND(SUM(l_quantity), 2)", "price-sum"),
    ("a_stats_moments", 0): ("FLOOR(STDDEV_SAMP(l_extendedprice) * 100)", "moment"),
    ("a_stats_moments", 1): ("FLOOR(VAR_SAMP(l_discount) * 100000000)", "moment"),
    ("a_stats_moments", 2): ("FLOOR(CORR(l_quantity, l_extendedprice) * 100000", "moment"),
    ("a_unpivot_metrics", 0): ("ROUND(SUM(l_quantity), 2)", "price-sum"),
    ("a_unpivot_metrics", 1): ("ROUND(SUM(l_extendedprice), 2)", "price-sum"),
    ("a_unpivot_metrics", 2): ("ROUND(SUM(l_discount), 2)", "price-sum"),
    ("f_case_price_buckets", 0): ("ROUND(AVG(o_totalprice), 2)", "price-sum"),
    ("f_date_monthly_revenue", 0): ("ROUND(SUM(o_totalprice), 2)", "price-sum"),
    ("f_iso_week_revenue", 0): ("ROUND(SUM(l_extendedprice * (1 - l_discount)), 2", "price-sum"),
    ("q10_returned_items", 0): ("ROUND(SUM(l_extendedprice * (1 - l_discount)), 2", "price-sum"),
    ("q14_promo_revenue_share", 0): ("FLOOR( 100.0 * SUM(CASE WHEN p_type = 'PROMO' TH", "ratio"),
    ("q15_top_supplier", 0): ("ROUND(SUM(l_extendedprice * (1 - l_discount)), 2", "price-sum"),
    ("q17_small_quantity_revenue", 0): ("ROUND(SUM(l_extendedprice) / 7.0, 2)", "price-sum"),
    ("q19_disjunctive_predicates", 0): ("ROUND(SUM(l_extendedprice * (1 - l_discount)), 2", "price-sum"),
    ("q1_pricing_summary", 0): ("ROUND(SUM(l_quantity), 2)", "price-sum"),
    ("q1_pricing_summary", 1): ("ROUND(SUM(l_extendedprice), 2)", "price-sum"),
    ("q1_pricing_summary", 2): ("ROUND(SUM(l_extendedprice * (1 - l_discount)), 2", "price-sum"),
    ("q1_pricing_summary", 3): ("ROUND(SUM(l_extendedprice * (1 - l_discount) * (", "price-sum"),
    ("q1_pricing_summary", 4): ("ROUND(AVG(l_quantity), 4)", "price-sum"),
    ("q1_pricing_summary", 5): ("ROUND(AVG(l_extendedprice), 4)", "price-sum"),
    ("q1_pricing_summary", 6): ("ROUND(AVG(l_discount), 6)", "price-sum"),
    ("q22_dormant_accounts", 0): ("ROUND(SUM(c_acctbal), 2)", "price-sum"),
    ("q2_revenue_by_segment", 0): ("ROUND(SUM(l_extendedprice * (1 - l_discount)), 2", "price-sum"),
    ("q3_revenue_by_nation", 0): ("ROUND(SUM(l_extendedprice * (1 - l_discount)), 2", "price-sum"),
    ("q4_local_supplier_volume", 0): ("ROUND(SUM(l_extendedprice * (1 - l_discount)), 2", "price-sum"),
    ("q6_forecast_revenue", 0): ("ROUND(SUM(l_extendedprice * l_discount), 2)", "price-sum"),
    ("q7_volume_shipping", 0): ("ROUND(SUM(l_extendedprice * (1 - l_discount)), 2", "price-sum"),
    ("q8_market_share", 0): ("FLOOR(SUM(CASE WHEN nation = 'NATION_2' THEN vol", "ratio"),
    ("q8_market_share", 1): ("ROUND(SUM(volume), 2)", "price-sum"),
    ("q9_profit_by_nation_year", 0): ("ROUND(SUM(amount), 2)", "price-sum"),
    ("st_sliding_windows", 0): ("ROUND(SUM(value), 2)", "price-sum"),
    ("st_stream_static_enrich", 0): ("ROUND(SUM(e.value), 2)", "price-sum"),
    ("st_tumbling_hourly", 0): ("ROUND(SUM(value), 2)", "price-sum"),
    ("w3_running_totals", 0): ("ROUND(SUM(o_totalprice) OVER (PARTITION BY o_cus", "price-sum"),
    ("w3_running_totals", 1): ("FLOOR(AVG(o_totalprice) OVER (PARTITION BY o_cus", "price-sum"),
    ("w_share_of_total", 0): ("ROUND(SUM(o_totalprice), 2)", "price-sum"),
    ("w_share_of_total", 1): ("FLOOR(seg_revenue / SUM(seg_revenue) OVER () * 1", "ratio"),
    ("x3_label_centroids", 0): ("FLOOR(AVG(v) * 1000000)", "logprob"),
    ("x4_bigram_lm_quality", 0): ("FLOOR(AVG(lp) * 10000)", "logprob"),
    ("x4_quality_buckets", 0): ("FLOOR(AVG(lp) * 10000)", "logprob"),
    ("x4_quality_threshold_sweep", 0): ("FLOOR(AVG(lp) * 10000)", "logprob"),
    ("x4_rolling_7d_user_spend", 0): ("ROUND(SUM(value) OVER ( PARTITION BY user_id ORD", "price-sum"),
}


def main(argv: list[str]) -> int:
    from etl_generator_demo_spark.registry import load_all

    reg = load_all()
    names = argv or sorted(reg)
    base_int_cols = _fixture_int_columns()
    unexplained = 0
    allowed = 0
    for name in names:
        rq = reg[name]
        if rq.oracle is None:
            continue
        for i, site in enumerate(scan_oracle(rq.oracle, base_int_cols)):
            key = (name, i)
            entry = ALLOWLIST.get(key)
            if entry and site["snippet"].startswith(entry[0]):
                allowed += 1
                continue
            unexplained += 1
            print(
                f"FLAG {name}[{i}] {site['kind']} over float agg "
                f"{site['aggs']}: {site['snippet'][:140]}"
            )
            print(f"  SUGGEST: {suggest_rewrite(site)}")
    print(
        f"-- oracle lint: {unexplained} unexplained, {allowed} allowlisted "
        f"over {len(names)} oracles"
    )
    return 1 if unexplained else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
