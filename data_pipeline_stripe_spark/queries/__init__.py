"""Declared query registry: every operator of SURVEY.md §2 as a named query.

Each entry pairs a Spark callable ``(spark, sf_dir) -> DataFrame`` with an
ANSI-SQL oracle twin that DuckDB runs over the same parquet tables. The
driver hash-compares both at sf0.01 (row count + schema + order-insensitive
value hash, columns sorted by name) — so every computed column is aliased
identically on both sides, doubles are rounded on both sides, and
timestamps are rendered to strings on both sides.
"""

import os
import re

from .registry import REGISTRY, Query, query  # noqa: F401

# Importing the modules populates REGISTRY via the @query decorator.
from . import llm_text  # noqa: E402,F401
from . import llm_similarity  # noqa: E402,F401
from . import llm_multimodal  # noqa: E402,F401
from . import stripe  # noqa: E402,F401
from . import relational  # noqa: E402,F401
from . import relational2  # noqa: E402,F401
from . import relational3  # noqa: E402,F401
from . import relational4  # noqa: E402,F401
from . import relational5  # noqa: E402,F401
from . import relational6  # noqa: E402,F401
from . import io_roundtrip  # noqa: E402,F401
from . import ingest_robust  # noqa: E402,F401
from . import streaming_gate  # noqa: E402,F401
from . import maintenance  # noqa: E402,F401

# ---------------------------------------------------------------------------
# Correctness-window rotation policy
#
# The driver's per-round gate hash-checks only the FIRST `_WINDOW` registry
# entries, and the registry holds more than that. Three rules keep every
# query covered:
#
# 1. `PRIORITY_THIS_ROUND` lists the queries whose implementation changed in
#    the current round — they are pinned to the head of the registry, so a
#    change is always gated the round it lands. Update this list whenever a
#    query's code changes (and prune entries from prior rounds: every pin
#    costs one rotating slot).
# 2. `COVERAGE_DEBT_THIS_ROUND` (r9+) lists unchanged queries that have
#    never appeared in ANY driver window — placed right after the pins so
#    the external gate sees them at least once. VERDICT r8 counted 30 such
#    queries after 8 rounds of pure tiling; this tier retires that debt
#    explicitly instead of waiting for the tile to come around. Recompute
#    per round from the CORRECTNESS_r*.json union; empty it once the union
#    covers the registry.
# 3. Everything else rotates by exactly the number of visible rotating
#    slots, `_WINDOW - len(head)`, per round (round number = latest
#    CORRECTNESS_r{N}.json present + 1), so consecutive rounds tile the
#    unpinned queries contiguously, with no query starved. The invariant
#    that matters is rule 1 — changed code is always gated the same round;
#    unchanged code re-verifies on the tile cadence.
# ---------------------------------------------------------------------------

_WINDOW = 50

PRIORITY_THIS_ROUND = [
    # Group 1: queries whose code changed after their last window (rule
    # 1) — the report and curation queries, and the snapshot gates whose
    # verbs or read plans were rewritten (trickle CDC verbs; copy-on-write
    # verbs and the publish loop; the read plan shared by scans,
    # incremental reads, the CDF and the stream source). Gates that also
    # belong to group 2 are listed there.
    "quality_gate_orders_report",
    "doc_mixture_resample",
    "graph_bfs_3hop",
    "feature_snapshot_user_weekly",
    "top10_event_types_daily",
    "platform_usage_monthly",
    "royalties_monthly_usd",
    "royalties_monthly_usd_bucketed",
    "pydatasource_rates_by_code",
    "snapshot_compact_parity",
    "snapshot_clustered_compact_parity",
    "snapshot_manifest_scale_parity",
    "snapshot_sql_surface_parity",
    "snapshot_stats_pruned_read",
    "snapshot_null_in_pruned_read",
    "snapshot_clustered_write_parity",
    "snapshot_incremental_read_parity",
    "stream_snapshot_source_parity",
    "stream_snapshot_source_ratelimited_parity",
    "stream_snapshot_source_skip_changes_parity",
    #
    # Group 2: every gate whose checks moved onto the change-feed checker
    # (operators/snapshot_check.py) or onto the shared orders fixture.
    "snapshot_merge_upsert_parity",
    "snapshot_partial_merge_parity",
    "snapshot_cdf_read_parity",
    "snapshot_merge_delete_unmatched_parity",
    "snapshot_history_parity",
    "snapshot_restore_parity",
    "snapshot_merge_update_unmatched_parity",
    "snapshot_replace_where_parity",
    "snapshot_merge_composite_key_parity",
    "snapshot_deletion_vector_parity",
    "snapshot_conflict_rebase_parity",
    "snapshot_partition_spec_parity",
    "snapshot_check_constraint_parity",
    "snapshot_partitioned_delete_parity",
    "snapshot_metadata_conflict_parity",
    "snapshot_equality_delete_parity",
    "snapshot_wap_parity",
    "snapshot_metadata_tables_parity",
    "snapshot_upsert_keys_parity",
    "stream_snapshot_cdf_source_parity",
    "stream_cdf_equality_delete_parity",
    "stream_snapshot_replication_parity",
    "stream_snapshot_replication_mor_parity",
]

COVERAGE_DEBT_THIS_ROUND: list[str] = [
    # r11's three debt rows landed in the r11 window
    # (CORRECTNESS_r11.json on disk) — the union is self-contained;
    # no new debt this round.
]
# Rotation note: with this head (43 pins + 0 debt), 7 rotating slots
# resume the tile over the remaining queries.


def _round_number() -> int:
    repo_root = os.path.dirname(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    )
    rounds = [
        int(m.group(1))
        for f in os.listdir(repo_root)
        if (m := re.fullmatch(r"CORRECTNESS_r(\d+)\.json", f))
    ]
    return (max(rounds) + 1) if rounds else 1


def _apply_rotation() -> None:
    names = list(REGISTRY)
    pinned = [n for n in PRIORITY_THIS_ROUND if n in REGISTRY]
    debt = [n for n in COVERAGE_DEBT_THIS_ROUND
            if n in REGISTRY and n not in pinned]
    head = pinned + debt
    rest = [n for n in names if n not in head]
    step = max(1, _WINDOW - len(head))
    offset = (_round_number() * step) % len(rest) if rest else 0
    order = head + rest[offset:] + rest[:offset]
    reordered = {n: REGISTRY[n] for n in order}
    REGISTRY.clear()
    REGISTRY.update(reordered)


_apply_rotation()

__all__ = ["REGISTRY", "Query", "query", "PRIORITY_THIS_ROUND",
           "COVERAGE_DEBT_THIS_ROUND"]
