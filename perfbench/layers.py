"""Per-layer metrics of a traced run, from the spans of its traced ops.

Every metric in ``BENCHMARK.json``'s ``per_layer`` list is produced for
every workload; a layer a workload does not use reads 0.  Values are
medians over the traced ops of the run, each op summing its calls.
"""

from __future__ import annotations

import os
import time

from perfbench.stats import median
from perfbench.trace import self_time

_PYTHON = {
    "python.boot_ms": "time to start Python workers",
    "python.init_ms": "time to initialize Python workers",
    "python.run_ms": "time to run Python workers",
    "python.arrow_bytes_in": "data sent to Python workers",
    "python.arrow_bytes_out": "data returned from Python workers",
}

#: the fixed kernel sample: this many PDF files of batch 0
KERNEL_FILES = 4


def _per_op(op, cores: int) -> dict[str, float]:
    spans = [s for s in op.spans if s.traced]
    out: dict[str, float] = {}
    for s in spans:
        for key, value in s.spark.items():
            out[key] = out.get(key, 0.0) + value
    wall = sum(s.wall_s for s in spans)
    driver = sum(self_time(s, []) for s in spans)
    covered = wall - driver
    busy = out.get("exec.run_ms", 0.0) / 1e3 / cores
    out["driver.self_s"] = driver
    out["exec.cpu_ms"] = out.pop("exec.cpu_ns", 0.0) / 1e6
    out["exec.spill_bytes"] = out.pop("exec.spill_mem_bytes", 0.0) + out.pop(
        "exec.spill_disk_bytes", 0.0
    )
    out["share.driver"] = driver / wall if wall else 0.0
    out["share.exec"] = min(busy, covered) / wall if wall else 0.0
    out["share.sched"] = max(covered - busy, 0.0) / wall if wall else 0.0
    for key, metric in _PYTHON.items():
        out[key] = sum(n.metrics.get(metric, 0.0) for s in spans for n in s.nodes)
    return out


def kernels(inputs) -> dict[str, float]:
    """Driver-side timings of the fused ingest kernel's three public
    functions over a fixed sample: the first KERNEL_FILES files of
    batch 0 (extract), their text (chunk), their chunks (embed)."""
    from vector_db_ingestor_spark.embedding import HashingEmbedder
    from vector_db_ingestor_spark.operators.chunker import chunk_text
    from vector_db_ingestor_spark.sources.pdf import extract_pdf_text

    from perfbench.corpus import CHUNK_OVERLAP, CHUNK_SIZE

    batch = inputs.batch_dirs[0]
    blobs = []
    for name in inputs.batch_files(0)[:KERNEL_FILES]:
        with open(os.path.join(batch, name), "rb") as fh:
            blobs.append(fh.read())
    t0 = time.perf_counter()
    texts = [extract_pdf_text(b) for b in blobs]
    t1 = time.perf_counter()
    chunks = [c for t in texts for c in chunk_text(t, CHUNK_SIZE, CHUNK_OVERLAP)]
    t2 = time.perf_counter()
    embedder = HashingEmbedder()
    for c in chunks:
        embedder.embed_one(c, "passage")
    t3 = time.perf_counter()
    mb_pdf = sum(len(b) for b in blobs) / 1e6
    mb_text = sum(len(t) for t in texts) / 1e6
    return {
        "sources.pdf.extract_s_per_mb": (t1 - t0) / mb_pdf,
        "operators.chunker.chunk_s_per_mb": (t2 - t1) / mb_text,
        "embedding.embed_ms_per_1k": (t3 - t2) * 1e3 / (len(chunks) / 1e3),
    }


def per_layer(wl, ops, measured: dict[str, float], names: list[str]) -> dict[str, float]:
    """The per-layer metrics ``names`` for workload ``wl``; ``measured``
    holds those the run took itself (session start, memory, failures)."""
    cores = int(os.environ.get("SPARK_GRAFT_CPUS", "1"))
    traced = [o for o in ops if o.traced]
    rows = [_per_op(o, cores) for o in traced]
    out = {k: median([r.get(k, 0.0) for r in rows]) for k in rows[0]}
    out.update(wl.layers(traced))
    out.update(kernels(wl.inputs))
    out.update(measured)
    out["trace.overhead_s"] = overhead_s(ops)
    return {k: float(out.get(k, 0.0)) for k in names}


def overhead_s(ops) -> float:
    """Tracing overhead of a run whose ops alternate untraced and traced
    (U T U ... T U): the median over traced ops of its cycle time minus
    the mean of the two untraced ops around it.  A steady warm-up trend
    across the three cancels."""
    return median([
        ops[i].cycle_s - (ops[i - 1].cycle_s + ops[i + 1].cycle_s) / 2
        for i in range(1, len(ops) - 1)
        if ops[i].traced and not ops[i - 1].traced and not ops[i + 1].traced
    ])
