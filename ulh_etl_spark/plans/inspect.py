"""Physical-plan introspection.

Parses ``df._jdf.queryExecution().explainString(formatted)`` — the
same text ``.explain("formatted")`` prints — into checkable facts:

- ``pushed_filters``: predicates that reached the parquet scan
  (PushedFilters). A filter NOT listed here runs post-scan and reads
  every row at 100 TB.
- ``scan_columns``: the ReadSchema projection — a scan reading all
  columns for a 2-column query is a missing-pruning bug.
- ``exchange_count``: shuffles. Every Exchange is a full network
  round of the data; algorithms should shuffle exactly as often as
  their semantics require (join+agg on the same key = 1, not 2).
- ``broadcast_join_count``: small-dimension joins that avoided a
  shuffle entirely.
- ``wholestage_codegen_spans``: fused JVM codegen regions — Python
  UDFs and exotic expressions break these.

Used by tests (tests/test_plans.py) and the plan audit tool
(tools/plan_audit.py) to keep every catalog query's plan honest.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from pyspark.sql import DataFrame


def formatted_plan(df: DataFrame) -> str:
    return df._jdf.queryExecution().explainString(
        df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )


def _dead_node_ids(plan: str) -> set[str]:
    """Node ids that appear ONLY inside an AQE ``== Initial Plan ==``
    tree section. When a cached/partially-executed AdaptiveSparkPlan
    is embedded in a plan, formatted mode prints the superseded
    initial tree next to the final one — counting its Exchanges (or
    joins) double-reports work that never runs. A node id also
    present in a live tree section (shared leaves like the scan) is
    NOT dead."""
    live: set[str] = set()
    dead: set[str] = set()
    base: int | None = None  # indent of the current Initial section
    for line in plan.splitlines():
        if not line.strip():
            base = None
            continue
        if "== Initial Plan ==" in line:
            base = line.index("==")
            continue
        if "== Final Plan ==" in line:
            continue
        if re.match(r"^\(\d+\)", line):  # detail header — tree art over
            base = None
            continue
        m = re.search(r"\((\d+)\)", line)
        if not m:
            continue
        indent = len(line) - len(line.lstrip())
        if base is not None and indent >= base:
            dead.add(m.group(1))
        else:
            base = None  # back out to the enclosing live tree
            live.add(m.group(1))
    return dead - live


def _live_detail_blocks(plan: str) -> list[tuple[str, str, str]]:
    """(node_id, node_name, body) for every numbered detail block
    whose node is part of the plan that actually executes."""
    dead = _dead_node_ids(plan)
    parts = re.split(r"(?m)^\((\d+)\) (.+)$", plan)
    out = []
    for i in range(1, len(parts) - 2, 3):
        nid, header, body = parts[i], parts[i + 1], parts[i + 2]
        if nid not in dead:
            out.append((nid, header.split()[0].strip(), body))
    return out


def pushed_filters(df: DataFrame) -> list[str]:
    """All PushedFilters entries across live scans (deduped, order
    kept)."""
    out: list[str] = []
    for _nid, _name, body in _live_detail_blocks(formatted_plan(df)):
        for m in re.finditer(r"PushedFilters: \[([^\]]*)\]", body):
            for f in m.group(1).split(","):
                f = f.strip()
                if f and f not in out:
                    out.append(f)
    return out


def partition_filters(df: DataFrame) -> list[str]:
    """All non-empty PartitionFilters entries across live scans — the
    proof a partitioned-table scan prunes DIRECTORIES (reads only the
    matching partitions) rather than listing every file."""
    out: list[str] = []
    for _nid, _name, body in _live_detail_blocks(formatted_plan(df)):
        for m in re.finditer(r"PartitionFilters: \[([^\]]*)\]", body):
            for f in m.group(1).split(","):
                f = f.strip()
                if f and f not in out:
                    out.append(f)
    return out


def scan_columns(df: DataFrame) -> list[list[str]]:
    """Column lists read by each live parquet scan (ReadSchema)."""
    out = []
    for _nid, _name, body in _live_detail_blocks(formatted_plan(df)):
        for m in re.finditer(r"ReadSchema: struct<([^>]*)>", body):
            cols = [
                c.split(":")[0].strip() for c in m.group(1).split(",") if c.strip()
            ]
            out.append(cols)
    return out


def exchange_count(df: DataFrame) -> int:
    """Number of shuffle Exchanges that actually execute (excludes
    BroadcastExchange — those are the cheap kind — and superseded
    AQE initial-plan copies)."""
    return sum(
        1
        for _nid, name, _b in _live_detail_blocks(formatted_plan(df))
        if name == "Exchange"
    )


def broadcast_join_count(df: DataFrame) -> int:
    return sum(
        1
        for _nid, name, _b in _live_detail_blocks(formatted_plan(df))
        if name in ("BroadcastHashJoin", "BroadcastNestedLoopJoin")
    )


def sortmerge_join_count(df: DataFrame) -> int:
    return sum(
        1
        for _nid, name, _b in _live_detail_blocks(formatted_plan(df))
        if name == "SortMergeJoin"
    )


def wholestage_codegen_spans(df: DataFrame) -> int:
    """Distinct fused codegen regions (formatted mode tags member
    operators with ``[codegen id : N]``)."""
    return len(set(re.findall(r"\[codegen id : (\d+)\]", formatted_plan(df))))


@dataclass
class PlanFacts:
    pushed_filters: list[str] = field(default_factory=list)
    partition_filters: list[str] = field(default_factory=list)
    scan_columns: list[list[str]] = field(default_factory=list)
    exchanges: int = 0
    broadcast_joins: int = 0
    sortmerge_joins: int = 0
    codegen_spans: int = 0

    def summary(self) -> dict:
        return {
            "pushed_filters": len(self.pushed_filters),
            "partition_filters": len(self.partition_filters),
            "scans": len(self.scan_columns),
            "scan_cols": [len(c) for c in self.scan_columns],
            "exchanges": self.exchanges,
            "broadcast_joins": self.broadcast_joins,
            "sortmerge_joins": self.sortmerge_joins,
            "codegen_spans": self.codegen_spans,
        }


def plan_facts(df: DataFrame) -> PlanFacts:
    return PlanFacts(
        pushed_filters=pushed_filters(df),
        partition_filters=partition_filters(df),
        scan_columns=scan_columns(df),
        exchanges=exchange_count(df),
        broadcast_joins=broadcast_join_count(df),
        sortmerge_joins=sortmerge_join_count(df),
        codegen_spans=wholestage_codegen_spans(df),
    )
