"""Dump `explain("formatted")` for headline queries to plans/<tag>/.

Usage:
    python tools/plan_dump.py before [query ...]   # -> plans/$ROUND/<q>_before.txt
    python tools/plan_dump.py after  [query ...]   # -> plans/$ROUND/<q>_after.txt

The round directory defaults to r18; override with SPARK_GRAFT_PLAN_ROUND.

With no query names, dumps every bench.py HEADLINE entry. These files
are read to check plan claims (Exchange counts, join strategies,
PushedFilters) against the code, so the capture is the plain
`df.explain("formatted")` text with the run-local numbering taken out:
the checkout's absolute path is written as `<checkout>`, and expression
ids (`#123`), `plan_id=`, RDD ids and call sites, lambda-variable
suffixes and `_common_expr_` names are written as `N`. The same query's plans from two checkouts (a copy of
the parent commit and the working tree) are identical modulo ids
exactly when `diff q_before.txt q_after.txt` prints nothing. Queries
that run eager side work (txlog commits, localCheckpoint rounds)
execute it here exactly as the bench does; the captured plan is the
final DataFrame's."""

from __future__ import annotations

import contextlib
import io
import os
import re
import sys

CHECKOUT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, CHECKOUT)

ROUND = os.environ.get("SPARK_GRAFT_PLAN_ROUND", "r18")

#: Run-local numbering in `explain` text: expression ids, exchange
#: plan ids, RDD ids and call sites, lambda-variable suffixes and the
#: names of common subexpressions.
_IDS = (
    (re.compile(r"#\d+"), "#N"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"RDD\[\d+\]"), "RDD[N]"),
    (re.compile(r"(RDD\[N\] at \w+ at )[^,]+"), r"\1<callsite>"),
    (re.compile(r"(lambda [A-Za-z]+)_\d+"), r"\1_N"),
    (re.compile(r"_common_expr_\d+"), "_common_expr_N"),
)


def normalize(text: str) -> str:
    """`explain` text with the checkout path and run-local ids replaced."""
    text = text.replace(CHECKOUT, "<checkout>")
    for pattern, repl in _IDS:
        text = pattern.sub(repl, text)
    return text


def main() -> None:
    tag = sys.argv[1] if len(sys.argv) > 1 else "before"
    names = sys.argv[2:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    import bench
    from etl_generator_demo_spark.registry import load_all
    from etl_generator_demo_spark.session import get_spark

    spark = get_spark("plan-dump")
    spark.sparkContext.setLogLevel("ERROR")
    registry = load_all()
    if not names:
        names = [n for n in bench.HEADLINE if n in registry]

    out_dir = os.path.join(CHECKOUT, "plans", ROUND)
    os.makedirs(out_dir, exist_ok=True)

    for name in names:
        spark.sparkContext.setJobDescription(f"plan_dump: {name}")
        try:
            df = registry[name].fn(spark, sf_dir)
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                df.explain("formatted")
            text = normalize(buf.getvalue())
        except Exception as exc:  # capture the failure, don't abort the sweep
            text = f"ERROR building {name}: {exc!r}\n"
        path = os.path.join(out_dir, f"{name}_{tag}.txt")
        with open(path, "w") as fh:
            fh.write(text)
        n_ex = text.count("Exchange")
        print(f"{name}: {len(text)} chars, ~{n_ex} Exchange mentions -> {path}",
              file=sys.stderr)
    spark.sparkContext.setJobDescription(None)


if __name__ == "__main__":
    main()
