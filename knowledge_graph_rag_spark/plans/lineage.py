"""The one stage runner and run result of the KG and curation pipelines, and
per-partition lineage (north-rule requirement) read from parquet footers.

A stage is skipped when the manifest records it, else it runs compute →
write → ``mark_done``. Lineage rows and counts come from the committed
files' footers (``GraphStore.file_rows``), so they cost no Spark job on a
fresh run or on a resume.
"""

from __future__ import annotations

from collections import Counter
from dataclasses import dataclass, field

from ..schemas import LINEAGE_SCHEMA


@dataclass
class PipelineResult:
    run_id: str
    stages_run: list[str] = field(default_factory=list)
    stages_skipped: list[str] = field(default_factory=list)
    counts: dict[str, int] = field(default_factory=dict)


def run_stage(store, res: PipelineResult, name: str, unit: str, compute, write,
              *, key: str | None = None) -> None:
    """Skip when the manifest holds ``(key or name, unit)``, else
    ``write(compute())`` and record the stage. ``key`` is the manifest name
    when it differs from the reported one (curation commits ``dp_<name>``)."""
    if store.is_done(key or name, unit):
        res.stages_skipped.append(name)
        return
    write(compute())
    store.mark_done(key or name, unit, run_id=res.run_id)
    res.stages_run.append(name)


def lineage_rows(store, run_id: str, stage: str, table: str,
                 graph_id: str | None = None) -> list[tuple]:
    """LINEAGE_SCHEMA rows: one per write partition of ``table``'s current
    snapshot, with its rows. ``partition_id`` is the task that wrote the
    file, not the split that would read it back."""
    rows: Counter = Counter()
    for pid, n in store.file_rows(table, graph_id):
        rows[pid] += n
    return [(run_id, stage, pid, "rows", n) for pid, n in sorted(rows.items())]


def write_lineage(store, table: str, rows: list[tuple]) -> None:
    """Commit LINEAGE_SCHEMA rows as a new snapshot of ``table``: one job."""
    df = store.spark.createDataFrame(rows, LINEAGE_SCHEMA)
    store.write_snapshot(table, df)
