"""The benchmark's metrics.

``BENCHMARK.json`` at the root of the checkout holds each metric's name,
unit and direction; ``units`` reads them from there. An untraced run
(``--trace 0``) prints the ``end_to_end`` metrics:

- ``setup_s``: process start until the workload is warm: session, registry
  import, discarded warm-up passes (output checking time excluded);
- ``wall_s``: one pass: the sum over queries of each query's median wall
  time over the measured passes;
- ``query_p50_s``: the median over queries of each query's median wall time;
- ``peak_rss_mb``: peak resident memory of the process tree (driver Python,
  JVM and Python workers). The driver heap is pre-touched, so its whole size
  is resident from JVM start and is a constant floor of this figure; heap
  use shows in the per-layer ``jvm.heap_after_gc_mb``.

A traced run (``--trace 1``) prints the ``per_layer`` metrics. ``SHOULD_MOVE``
says which end-to-end metric each should move, and on which workload.

Query failures and oracle mismatches are not a metric here: they are the
``failed`` count of the result line (``failed / attempted`` is the failed
fraction), and any failure makes ``correct`` false.
"""

from __future__ import annotations

import json
from pathlib import Path

SPEC_FILE = Path(__file__).resolve().parent.parent / "BENCHMARK.json"


def units(kind: str) -> dict[str, str]:
    """name -> unit of the ``end_to_end`` or ``per_layer`` metrics listed in
    ``BENCHMARK.json``."""
    return {m["name"]: m["unit"] for m in json.loads(SPEC_FILE.read_text())[kind]}


_OPERATORS = "wall_s on alert_enrich; little on curation_batch; none on alert_stream"
_EXEC = "wall_s on alert_enrich, curation_batch"
_STREAM = "wall_s on alert_stream only"

SHOULD_MOVE: dict[str, str] = {
    "session.start_s": "setup_s, all workloads",
    "registry.import_s": "setup_s, all workloads",
    "warmup.passes": "setup_s, all workloads",
    "warmup.s": "setup_s, all workloads",
    "queries.build_s": "query_p50_s on curation_batch, alert_enrich; not alert_stream",
    "queries.py4j_calls": "query_p50_s on curation_batch, alert_enrich; not alert_stream",
    "queries.eager_jobs": "query_p50_s on curation_batch, alert_enrich; not alert_stream",
    "plan.catalyst_s": "query_p50_s on curation_batch, alert_enrich",
    "exec.jobs": _EXEC,
    "exec.stages": _EXEC,
    "exec.tasks": _EXEC,
    "exec.task_s": _EXEC,
    "exec.task_cpu_s": _EXEC,
    "exec.gc_s": _EXEC,
    "exec.max_task_s": _EXEC,
    "exec.task_skew": _EXEC,
    "exec.slot_busy_frac": _EXEC,
    "exec.shuffle_read_bytes": "wall_s on curation_batch, alert_enrich",
    "exec.shuffle_write_bytes": "wall_s on curation_batch, alert_enrich",
    "exec.spill_bytes": "wall_s on curation_batch, alert_enrich",
    "exec.failed_tasks": "failed count, all workloads",
    "operators.python_run_s": _OPERATORS,
    "operators.python_boot_s": _OPERATORS,
    "operators.python_init_s": _OPERATORS,
    "operators.arrow_sent_bytes": _OPERATORS,
    "operators.arrow_received_bytes": _OPERATORS,
    "operators.python_rows": _OPERATORS,
    "sources.input_rows": "wall_s via scan pruning, all workloads",
    "sources.input_bytes": "wall_s via scan pruning, all workloads",
    "streaming.batches": _STREAM,
    "streaming.batch_p50_ms": _STREAM,
    "streaming.planning_ms": _STREAM,
    "streaming.add_batch_ms": _STREAM,
    "streaming.wal_commit_ms": _STREAM,
    "streaming.commit_offsets_ms": _STREAM,
    "streaming.latest_offset_ms": _STREAM,
    "streaming.state_rows": _STREAM,
    "streaming.state_commit_ms": _STREAM,
    "streaming.state_memory_bytes": _STREAM,
    # heap in use after the latest garbage collection, at the end of each
    # traced pass; peak_rss_mb cannot show it (the heap is pre-touched)
    "jvm.heap_after_gc_mb": "none end to end while the heap is pre-touched; all workloads",
    "oracle.checked": "failed count, all workloads",
    "oracle.mismatches": "failed count, all workloads",
    # fixed-work probe per pass: shows slow host windows, normalizes nothing
    "host.probe_s": "none; shows slow host windows",
    # traced wall over untraced wall, minus 1
    "trace.overhead_frac": "none; cost of tracing",
}
