"""Redirect-chain resolution by pointer doubling (path compression).

A crawl's redirect table is a *functional* graph — each source URL has
exactly one redirect target (``subject → object``) — and canonicalizing
a corpus means resolving every source to the END of its chain
(301 → 301 → 200) so dedup, PageRank, and frontier scheduling all key on
the final URL.  Chains on the real web are short (a handful of hops) but
the table is huge, so the right distributed shape is **pointer doubling**
(a.k.a. pointer jumping / path halving — Wyllie 1979; the same trick as
Kiveris et al.'s star operations used in
:func:`pregel_rs_spark.algorithms.connected_components_star`): after
round ``r`` every pointer has compressed up to ``2^r`` original hops, so
``max_rounds = 32`` covers any acyclic chain that could exist in an
int64-keyed table.

Redirect *loops* exist in real crawls (A → B → A).  A node whose chain
enters a loop can never reach a terminal; it is reported with
``resolved = false`` after ``max_rounds`` (a chain longer than
``2^max_rounds`` is indistinguishable from a loop, which is the correct
operational read — both mean "do not canonicalize, quarantine").

Scale shape at 100 TB: each round is ONE self equi-join of the pointer
table on the jump key plus the terminal check that rides the same join
(a pointer is terminal iff its target has no out-edge, i.e. the left
join misses); rounds are O(log max-chain-length), state is exactly one
row per redirect source, and every round passes through
``truncate_plan`` so the plan stays O(1) deep.  The convergence count
rides each round's materialization job: no collects at all.

No reference counterpart — extension beyond pregel-rs (the reference,
src/graph_frame.rs / src/pregel.rs, ships no URL/redirect surface).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pregel_rs_spark.columns import OBJECT, SUBJECT
from pregel_rs_spark.pregel import iterate


def resolve_redirects(
    redirects: DataFrame, max_rounds: int = 32
) -> DataFrame:
    """Resolve every redirect source to the end of its chain.

    ``redirects`` must be functional on ``subject`` (one target per
    source — dedupe upstream, e.g. keep the lowest target or the most
    recent crawl's row; duplicate subjects would make "the" chain
    ambiguous and this function's doubling would multiply rows).

    Returns one row per distinct ``subject``:

    * ``final`` — the chain's terminal URL (a node with no outgoing
      redirect), or the farthest node reached after ``max_rounds``
      doublings when the chain never terminates;
    * ``hops`` — exact number of original redirect edges traversed
      from ``subject`` to ``final`` (BIGINT);
    * ``resolved`` — true iff ``final`` is terminal.  False means the
      chain enters a loop (or exceeds ``2^max_rounds`` hops, impossible
      for acyclic chains at the default 32).

    Early-exits as soon as every pointer is terminal, so the common
    all-short-chains case pays ~2 rounds regardless of ``max_rounds``.
    Deterministic: pure function of the input table.
    """
    if max_rounds < 1:
        raise ValueError(f"max_rounds must be >= 1, got {max_rounds}")

    def double(state: DataFrame, r) -> tuple[DataFrame, bool]:
        # jump table = the CURRENT state (f_{k+1}(x) = f_k(f_k(x))): one
        # self equi-join; a miss means the pointer is already terminal (its
        # target has no out-edge), so the same join is also the convergence
        # test, observed on the round's materialization
        jump = state.select(
            F.col(SUBJECT).alias("__j_src"),
            F.col("final").alias("__j_final"),
            F.col("hops").alias("__j_hops"),
        )
        state = r.keep(
            state.join(jump, state["final"] == jump["__j_src"], "left")
            .select(
                F.col(SUBJECT),
                F.coalesce("__j_final", "final").alias("final"),
                (
                    F.col("hops") + F.coalesce("__j_hops", F.lit(0))
                ).alias("hops"),
                F.col("__j_src").isNotNull().alias("__jumped"),
            ),
            jumped=F.count_if("__jumped"),
        )
        return state, r.seen["jumped"] == 0

    # state: subject -> (final, hops); starts as the redirect table itself
    state = iterate(
        lambda r: r.keep(redirects.select(
            F.col(SUBJECT),
            F.col(OBJECT).alias("final"),
            F.lit(1).cast("long").alias("hops"),
        )),
        double,
        max_rounds,
    ).state

    # resolved ⇔ final has no outgoing redirect (left-join miss against
    # the domain); computed once at the end, not per round.
    domain = redirects.select(
        F.col(SUBJECT).alias("final"), F.lit(True).alias("__has_out")
    ).distinct()
    return (
        state.join(domain, "final", "left")
        .select(
            SUBJECT,
            "final",
            "hops",
            F.coalesce(~F.col("__has_out"), F.lit(True)).alias("resolved"),
        )
    )
