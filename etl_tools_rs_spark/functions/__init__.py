"""Scalar/aggregate helper functions used across engine operators.

The reference has no scalar-function library at all (SURVEY §2.7 — its only
"functions" are user closures); everything here is the Spark-native function
surface the engine exposes, plus oracle-compatibility helpers.

Numeric policy for cross-engine (Spark vs DuckDB) comparability: monetary
doubles are aggregated through exact DECIMAL arithmetic and only then cast
back to double + rounded. A naive double SUM over 60k+ rows accumulates
~1e-3 absolute error that breaks value-hash comparison; decimal sums are
exact on both engines, so the final round is stable.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# exact-decimal aggregation helpers (oracle-stable numerics)
# ---------------------------------------------------------------------------

DEC = "decimal(18,2)"


def dsum(col: str | Column, scale: int = 2) -> Column:
    """Exact SUM of a 2-dp monetary double: cast→decimal, sum (exact),
    round, back to double. Matches ``CAST(ROUND(SUM(CAST(x AS DECIMAL(18,2))),
    s) AS DOUBLE)`` in ANSI SQL / DuckDB bit-for-bit."""
    c = F.col(col) if isinstance(col, str) else col
    return F.round(F.sum(c.cast(DEC)), scale).cast("double")


def davg(col: str | Column, scale: int = 6) -> Column:
    """Bit-stable cross-engine AVG at fixed ``scale``: floor(10^s*sum/cnt)/10^s
    computed with NO double arithmetic before the final division. The input
    is snapped to DECIMAL(18,2) (same half-up snap on both engines), scaled
    to integer hundredths, and the floor-division is exact integer math
    ((a - a%n)/n — the quotient is integral, so the decimal divide cannot
    round). Only then does one double division by 10^s happen, which is
    IEEE-deterministic given equal integer inputs — immune to engine/version
    differences in decimal→double casts that a FLOOR-over-double is not.
    Requires scale >= 2 and non-negative values (floor == integer div)."""
    if scale < 2:
        raise ValueError("davg requires scale >= 2")
    c = F.col(col) if isinstance(col, str) else col
    p = 10 ** scale
    # row side stays bigint (compact codegen; a decimal(38) accumulator
    # would box every row): exact while sum(|v|)·100 < 2^63 ≈ 9.2e18 —
    # ANSI mode errors loudly, never corrupts, if a workload exceeds it
    cents = (c.cast(DEC) * F.lit(100)).cast("bigint")
    # post-agg: widen to decimal(38,0) for the scaled product
    a = F.sum(cents).cast("decimal(38,0)") * F.lit(p // 100)
    n = F.count(c)
    q = (a - a % n) / n  # exact: integral quotient, no decimal rounding
    return (q.cast("decimal(38,0)").cast("double") / F.lit(float(p))).cast("double")


def dec(col: str | Column) -> Column:
    """Cast a monetary double column to the engine's exact decimal type."""
    c = F.col(col) if isinstance(col, str) else col
    return c.cast(DEC)


# ---------------------------------------------------------------------------
# text helpers (shared by text-analysis + dedup operators)
# ---------------------------------------------------------------------------


def tokens(col: str | Column) -> Column:
    """Whitespace tokenization with no empty tokens. Semantics match
    DuckDB ``list_filter(string_split_regex(trim(x), '\\s+'), t -> t <> '')``."""
    c = F.col(col) if isinstance(col, str) else col
    return F.filter(F.split(F.trim(c), r"\s+"), lambda t: t != "")


def token_count(col: str | Column) -> Column:
    return F.size(tokens(col))


def fingerprint(col: str | Column) -> Column:
    """Document fingerprint: md5 of the whitespace-normalized, lowercased
    text. Deterministic and portable (same value in any engine with md5)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.md5(F.regexp_replace(F.lower(F.trim(c)), r"\s+", " "))


def ngrams(col: str | Column, n: int = 3) -> Column:
    """Token n-gram (shingle) array: space-joined sliding windows of n
    tokens, built from higher-order functions — stays JVM-side.

    Linear per document: the token array is bound once as a lambda
    variable (``transform(array(t), ts -> ...)[0]``), so the interpreted
    tokenization runs twice per row (the size guard and the binding)
    instead of once per window. Window i is element i of n shifted
    slices of ``ts`` zipped together, not a slice of ``ts`` taken inside
    a per-window lambda: a lambda that reads an outer lambda's variable
    keeps Spark 4.1 from extracting a Python UDF applied to the result
    out of a filter, and the task fails with "Cannot evaluate
    expression" (``streaming.ops.near_dup_stream`` over a filtered file
    scan does exactly that)."""
    t = tokens(col)
    # size-n+1 windows; guard: docs shorter than n get [] (slice rejects
    # the negative length they would give)
    return F.when(F.size(t) >= n, F.transform(
        F.array(t),
        lambda ts: F.transform(
            F.arrays_zip(
                *(F.slice(ts, j + 1, F.size(ts) - n + 1) for j in range(n))
            ),
            lambda w: F.concat_ws(" ", *(w[str(j)] for j in range(n))),
        ),
    )[0]).otherwise(F.array().cast("array<string>"))


# ---------------------------------------------------------------------------
# URL helpers (for web-corpus dedup / grouping by host)
# ---------------------------------------------------------------------------

# scheme://authority path — RE2-safe so a DuckDB oracle can evaluate the
# identical pattern (no parse_url dependency, which DuckDB lacks)
URL_RE = r"^([A-Za-z][A-Za-z0-9+.-]*)://([^/?#]*)([^?#]*)"


def url_scheme(col: str | Column) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.lower(F.regexp_extract(c, URL_RE, 1))


def url_host(col: str | Column) -> Column:
    """Lowercased host with any ``:port`` suffix removed."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_replace(F.lower(F.regexp_extract(c, URL_RE, 2)), r":\d+$", "")


def url_path(col: str | Column) -> Column:
    """Path component; empty path normalizes to ``/``."""
    c = F.col(col) if isinstance(col, str) else col
    p = F.regexp_extract(c, URL_RE, 3)
    return F.when(p == "", F.lit("/")).otherwise(p)


def url_normalize(col: str | Column) -> Column:
    """Canonical URL for dedup keys: lowercase scheme and host, default
    ports (http:80 / https:443) stripped, non-default ports kept, query
    string and fragment dropped, empty path → ``/``. Pure regexp
    expressions — narrow, codegen, shuffle-free."""
    c = F.col(col) if isinstance(col, str) else col
    scheme = url_scheme(c)
    hostport = F.lower(F.regexp_extract(c, URL_RE, 2))
    host = (
        F.when(scheme == "http", F.regexp_replace(hostport, r":80$", ""))
        .when(scheme == "https", F.regexp_replace(hostport, r":443$", ""))
        .otherwise(hostport)
    )
    return F.concat(scheme, F.lit("://"), host, url_path(c))


# accent-folding table: built pairwise so source/target stay aligned
_ACCENT_PAIRS = [
    ("áàâäãå", "a"), ("ç", "c"), ("éèêë", "e"), ("íìîï", "i"), ("ñ", "n"),
    ("óòôöõø", "o"), ("úùûü", "u"), ("ýÿ", "y"),
    ("ÁÀÂÄÃÅ", "A"), ("Ç", "C"), ("ÉÈÊË", "E"), ("ÍÌÎÏ", "I"), ("Ñ", "N"),
    ("ÓÒÔÖÕØ", "O"), ("ÚÙÛÜ", "U"), ("Ý", "Y"),
]
ACCENT_FROM = "".join(src for src, _ in _ACCENT_PAIRS)
ACCENT_TO = "".join(dst * len(src) for src, dst in _ACCENT_PAIRS)


def normalize_text(
    col: str | Column,
    lower: bool = True,
    strip_accents: bool = True,
    collapse_ws: bool = True,
) -> Column:
    """Canonical text for dedup keys and matching: trim, optional
    lowercase, Latin accent folding (é→e — a fixed ``translate`` table,
    portable to any engine with ``translate``), whitespace runs collapsed
    to single spaces. Pure narrow column expressions — codegen,
    shuffle-free; the standard pre-fingerprint cleanup
    (:func:`fingerprint` stays byte-exact once inputs pass through
    this)."""
    c = F.col(col) if isinstance(col, str) else col
    c = F.trim(c)
    if lower:
        c = F.lower(c)
    if strip_accents:
        c = F.translate(c, ACCENT_FROM, ACCENT_TO)
    if collapse_ws:
        c = F.regexp_replace(c, r"\s+", " ")
    return c
