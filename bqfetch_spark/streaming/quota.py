"""Per-source token-budget quota enforcement — a custom stateful
streaming operator (the stateful leg of the batch curation family:
q73 shard packing, q81 temperature mixing).

On a continuously-crawled corpus, budget policy must be enforced in
ARRIVAL ORDER: each source admits documents until its running token
count exceeds the budget, and the counter must survive across
micro-batches and restarts. That running counter is per-key streaming
state.

Implementation: ``applyInPandasWithState`` (GroupState keyed by
source), the same arbitrary-state API as debounce and rate limit
(streaming/bucket_state.py).

Admission is deterministic: within each micro-batch a source's rows
are processed in doc_id order, so with doc_id-ordered arrival the
admitted set is the cumulative-sum-≤-budget prefix per source — the
q100 oracle (a plain SQL window) checks exactly that equality.
"""

from __future__ import annotations

from typing import Any, Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

# binds at every fixture SF (admits ~280 of 500 docs at sf0.001/0.01,
# ~284 of 5000 at sf0.1) so the quota actually cuts in tests
TOKEN_BUDGET_PER_SOURCE = 800

OUTPUT_SCHEMA = "doc_id bigint, source string, n_tokens bigint, cum_tokens bigint"
STATE_SCHEMA = "used long"


def _enforce_group(
    key: tuple[Any, ...],
    batches: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """Admit this micro-batch's docs for one source until the budget
    fills; carry the running count in state."""
    (source,) = key
    used = state.get[0] if state.exists else 0
    batch = pd.concat(list(batches), ignore_index=True)
    # deterministic admission order within the micro-batch
    batch = batch.sort_values("doc_id", kind="mergesort")
    cum = used + batch["n_tokens"].cumsum()
    admitted = batch.loc[cum <= TOKEN_BUDGET_PER_SOURCE].copy()
    # PREFIX semantics: every seen doc counts toward the running total,
    # admitted or not — once a doc overflows the budget, nothing later
    # is admitted (matches the SQL-window oracle). The alternative
    # (count only admitted docs = best-effort fill) would let a small
    # late doc slip in after an overflow and has no SQL equivalent.
    if len(batch):
        state.update((int(cum.iloc[-1]),))
    else:
        state.update((used,))
    if len(admitted):
        admitted["cum_tokens"] = cum[admitted.index].astype("int64")
        yield admitted[["doc_id", "source", "n_tokens", "cum_tokens"]]


def with_token_counts(docs: DataFrame) -> DataFrame:
    """JVM-side tokenization BEFORE the stateful op (the Python stage
    only sums longs — the hot string work stays in codegen; same split
    convention as q42/q73)."""
    return docs.select(
        "doc_id",
        "source",
        F.size(F.split(F.col("text"), " ")).cast("bigint").alias("n_tokens"),
    )


def enforce_quota_stream(docs_stream: DataFrame) -> DataFrame:
    """Wire the quota operator onto a streaming documents frame. No
    timeout: a filled budget is permanent for the run (production
    would add a TTL to reopen budgets per crawl epoch)."""
    return (
        with_token_counts(docs_stream)
        .groupBy("source")
        .applyInPandasWithState(
            _enforce_group,
            outputStructType=OUTPUT_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
