"""Plan-aware auto-LIMIT.

The reference appends ``LIMIT {n}`` to any SELECT/WITH statement whose
text lacks the substring "LIMIT" (``db_connector.py:216-224``) — a
check with false positives on identifiers containing "limit". Here the
decision is made on Catalyst's *analyzed logical plan*: if the plan's
root is a GlobalLimit node, leave it alone; otherwise wrap
``df.limit(n)``. Catalyst then pushes the new Limit down
(LimitPushDown / TakeOrderedAndProject), so at scale the executors
stop early instead of materializing the full result.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def plan_has_limit(df: DataFrame) -> bool:
    """True if the analyzed logical plan's ROOT already carries a
    limit. Root only: a LIMIT buried in a subquery bounds that
    subquery, not the statement's result — ``SELECT * FROM (SELECT ...
    LIMIT 1000000) x`` must still be capped at the serialization edge,
    or the one sanctioned collect() materializes a million rows on the
    driver (a substring/anywhere check had exactly that hole). The
    root's node name is read from the plan object, without rendering
    the plan as text. A ``WITH`` statement's root is ``WithCTE``, whose
    ``plan`` is the statement's own query: its limit counts, a limit
    inside a CTE body does not."""
    root = df._jdf.queryExecution().analyzed()
    name = root.nodeName()
    if name == "WithCTE":
        name = root.plan().nodeName()
    return name == "GlobalLimit"


def apply_auto_limit(df: DataFrame, limit: int) -> DataFrame:
    """Wrap ``df.limit(limit)`` unless the plan already limits."""
    if limit is None or limit <= 0:
        return df
    if plan_has_limit(df):
        return df
    return df.limit(limit)
