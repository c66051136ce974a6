"""Mechanical guard for the immutable-buffer aggregation census.

docs/SCALE.md ("Round-10: codebase-wide immutable-buffer aggregation
census") classifies every ``min_by``/``max_by``/``min(struct)``/
``max(struct)`` call site in gridmet_etl_spark/: struct-typed (or
struct-ordered) aggregation buffers are IMMUTABLE in Spark, which silently
downgrades HashAggregate to SortAggregate — a per-partition sort of the
whole input relation (the r9 minhash 80-GB-spill / r10 sign_test class).

The census was documentation only (VERDICT r10 "What's wrong" #3): nothing
stopped a 14th site from landing unclassified — plan assertions only
cover code a registered query or test actually executes. This test closes the
loop: it scans the package source for the pattern and asserts the per-file
site count matches the classified whitelist below. A new site anywhere
(including in a file not listed here) fails the suite until it is
classified in docs/SCALE.md AND added here with its bound.

Only call sites count: ``#`` comments are dropped (stdlib ``tokenize``)
before matching, so a comment that names ``max_by`` is not a site, while
string tokens are kept, so a SQL-string site such as
``F.expr("max_by(a, b)")`` still is.

Known blind spot: the pattern sees only the inline ``F.max(F.struct(...``
form. A struct bound to a name first and aggregated later is not matched:
the classified obv_trend site ``F.max(pick)`` in operators/risk.py
(``pick`` is a struct) is listed in docs/SCALE.md but not here, which is
why the docs count 11 sites and this whitelist 10.
"""

from __future__ import annotations

import io
import os
import re
import tokenize

PKG = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                   "gridmet_etl_spark")

# (file -> expected number of pattern sites). Classification per
# docs/SCALE.md census.
CLASSIFIED = {
    # micro-batch-bounded: a structured-streaming micro-batch IS the delta
    "streaming/cdc_stream.py": 1,
    # primitive value + primitive ordering -> mutable buffer, HashAggregate
    # (plan-audit-confirmed: the downgrade needs a STRUCT in the pair)
    "operators/timeseries.py": 2,   # daily_ohlc open/close
    "operators/stats.py": 3,        # km final_surv, rmst _slast (primitive);
                                    # grubbs max(struct) = 1-row global pick
    # whitelisted with written bounds (SCALE.md census section):
    "operators/cluster.py": 1,      # dbscan border assign — eps-ball-bounded
    "operators/scd.py": 1,          # scd2 latest-per-key — delta-bounded
    "operators/sketch.py": 1,       # hist_quantiles bin pick — |bins|-bounded
    "operators/planner.py": 1,      # layout pick — 9-row window relation
}

PATTERN = re.compile(
    r"(?:\bmin_by\s*\(|\bmax_by\s*\(|F\.(?:min|max)\(\s*F\.struct)"
)


def _code_only(src: str) -> str:
    """``src`` with its ``#`` comment tokens removed; strings are kept."""
    toks = tokenize.generate_tokens(io.StringIO(src).readline)
    return tokenize.untokenize(t for t in toks if t.type != tokenize.COMMENT)


def scan() -> dict[str, int]:
    found: dict[str, int] = {}
    for root, _dirs, files in os.walk(PKG):
        if "__pycache__" in root:
            continue
        for f in files:
            if not f.endswith(".py"):
                continue
            path = os.path.join(root, f)
            rel = os.path.relpath(path, PKG).replace(os.sep, "/")
            with open(path, encoding="utf-8") as fh:
                n = len(PATTERN.findall(_code_only(fh.read())))
            if n:
                found[rel] = n
    return found


def test_census_is_exhaustive_and_exact():
    found = scan()
    unclassified = {f: n for f, n in found.items() if f not in CLASSIFIED}
    assert not unclassified, (
        "NEW immutable-buffer-risk aggregation site(s) — classify in "
        f"docs/SCALE.md census + whitelist here: {unclassified}"
    )
    drift = {
        f: (found.get(f, 0), n) for f, n in CLASSIFIED.items()
        if found.get(f, 0) != n
    }
    assert not drift, (
        "census drift (found, expected) — update docs/SCALE.md census and "
        f"this whitelist together: {drift}"
    )
