"""The workloads: each a set-up, one timed operation (an op) that
the run loop repeats, output checks, and the metrics of its ops.

Every op calls the package's public API only and wraps each public call
in a tracer span.  Every op's outputs are checked against references
computed without Spark (``corpus.py``); a call that raises or whose
check fails counts as failed.
"""

from __future__ import annotations

import math
import os
import shutil
import time
import traceback
from dataclasses import dataclass, field
from decimal import ROUND_HALF_UP, Decimal

import numpy as np
import pyarrow.parquet as pq

from perfbench import corpus
from perfbench.stats import median, tail
from perfbench.trace import Span, Tracer

SERVE_BATCH = 32
#: RAG lookups per serve cycle.  The mix is not a traffic model: each
#: kind of call is gated on its own median latency, so the ratio only
#: sets how many samples of each a run takes.  At 4 lookups (about
#: 0.5 s each) per 32-query batch (about 1.8 s), RAG is half the cycle.
RAG_PER_CYCLE = 4
TOP_K = 10
RAG_BUDGET = 4000
RAG_SEPARATOR = "\n---\n"

#: what a public call that raised returns
FAILED = object()


@dataclass
class Op:
    """One timed unit of a workload."""

    wall_s: float = 0.0  # the public calls only
    cycle_s: float = 0.0  # the calls plus the tracer's reads
    items: int = 0
    calls: int = 0
    failed: int = 0
    traced: bool = False
    spans: list[Span] = field(default_factory=list)
    values: dict[str, float] = field(default_factory=dict)
    parts: list["Op"] = field(default_factory=list)


def _parquet_files(path: str) -> dict[str, tuple[int, int]]:
    """data file -> (bytes, rows) under ``path``, skipping ``_``/``.``
    entries (markers, sidecars and index directories)."""
    out = {}
    for dirpath, dirnames, filenames in os.walk(path):
        dirnames[:] = [d for d in dirnames if not d.startswith(("_", "."))]
        for name in filenames:
            if name.endswith(".parquet") and not name.startswith(("_", ".")):
                full = os.path.join(dirpath, name)
                out[full] = (os.path.getsize(full), pq.ParquetFile(full).metadata.num_rows)
    return out


def _sink(before: dict, after: dict) -> dict[str, float]:
    """Bytes, files and rows of the data files in ``after`` that are not
    in ``before``."""
    new = [v for f, v in after.items() if f not in before]
    return {
        "sink.bytes_written": float(sum(b for b, _ in new)),
        "sink.files_written": float(len(new)),
        "sink.rows_written": float(sum(r for _, r in new)),
    }


def _nodes(spans: list[Span], kind: str):
    return [n for sp in spans for n in sp.nodes if kind in n.name]


def _rows_out(nodes) -> float:
    return sum(n.metrics.get("number of output rows", 0.0) for n in nodes)


def _median0(values: list[float]) -> float:
    """Median, or 0 when every call that would give a sample failed."""
    return median(values) if values else 0.0


def _rate(ops: list[Op]) -> float:
    """Items per second over the ops' summed wall time."""
    return sum(o.items for o in ops) / sum(o.wall_s for o in ops)


def _named(ops: list[Op], name: str) -> list[Span]:
    return [s for o in ops for s in o.spans if s.name == name]


class Workload:
    """One workload.  The run calls ``setup_rep`` ``setup_reps`` times,
    then ``prepare`` (one-off calls), ``references`` (untimed) and
    ``warmup_ops`` ops; all but ``references`` count as set-up.  Then it
    calls ``op`` in a timed loop of at least ``min_ops`` ops; a traced
    run alternates ``traced_ops`` traced ops with untraced ones.

    Each workload has two kinds of public call, each gated on its own
    median latency: a fast call, repeated several times per op, and a
    slow call."""

    name = ""
    #: set-up repetitions per run; set-up time takes their median
    setup_reps = 3
    #: untimed ops before the loop.  A fresh JVM speeds up over its
    #: first ops (see each workload), and timing only that stretch made
    #: runs disagree by 30-50%.
    warmup_ops = 1
    min_ops = 1
    traced_ops = 3
    #: prefix of the workload's own name for its median op
    latency_name = ""

    def __init__(self, spark, inputs: corpus.Inputs, work: str, cache, tracer: Tracer):
        self.spark = spark
        self.inputs = inputs
        self.work = work
        self.cache = cache
        self.tracer = tracer
        #: ops of the public calls set-up made; they count in ``failed``
        self.setup_ops: list[Op] = []

    def _call(self, op: Op, name: str, fn, traced: bool, count: bool = True):
        """Run one public call in a span.  A call that raises is logged
        and, when ``count``, counted as failed; it returns FAILED."""
        if count:
            op.calls += 1
        with self.tracer.span(name, call=True, traced=traced) as sp:
            try:
                result = fn()
            except Exception:  # noqa: BLE001 - a failed call is a measured outcome
                traceback.print_exc()
                result = FAILED
        op.spans.append(sp)
        if result is FAILED and count:
            op.failed += 1
        return result

    def _fail(self, op: Op, why: str) -> None:
        print(f"[{self.name}] check failed: {why}", flush=True)
        op.failed += 1

    def _expect_chunks(self) -> None:
        """Load the reference chunk ids of every generated file."""
        self.expected = corpus.expected_chunks(self.inputs)
        self.ref_uids = {u for uids in self.expected.values() for u in uids}

    def _check_report(self, op: Op, rows, files: list[str]) -> None:
        """Fails the op unless the ingest report has one ``ok`` row per
        file in ``files``, each with the reference chunk count."""
        per_file = {r.filename: (r.status, r.n_chunks) for r in rows}
        op.values["files_ok"] = float(sum(s == "ok" for s, _ in per_file.values()))
        op.values["files"] = float(len(rows))
        if len(rows) != len(files) or per_file != {f: ("ok", len(self.expected[f])) for f in files}:
            self._fail(op, f"ingest report over {len(files)} files differs from the reference")

    def _check_collection(self, op: Op, coll: str) -> set[str]:
        """Fails the op unless the collection's chunk ids are exactly the
        reference ids of every file; returns the ids it holds."""
        uids = pq.read_table(coll, columns=["chunk_uid"]).column(0).to_pylist()
        if len(uids) != len(self.ref_uids) or corpus.uid_digest(uids) != corpus.uid_digest(self.ref_uids):
            self._fail(op, f"collection has {len(uids)} rows, or their ids differ from the reference")
        return set(uids)

    def setup_rep(self) -> None:
        pass

    def prepare(self) -> list[Op]:
        return []

    def references(self) -> None:
        pass

    def op(self, traced: bool) -> Op:
        raise NotImplementedError

    def end_to_end(self, ops: list[Op]) -> dict:
        """fast_call_p50_s, slow_call_p50_s, result_recall and the
        workload's own ``detail`` lines, from the untraced loop ops."""
        raise NotImplementedError

    def layers(self, ops: list[Op]) -> dict[str, float]:
        """This workload's own per-layer metrics, from traced ops."""
        return {}


# ------------------------------------------------------------- ingest

class Ingest(Workload):
    """The ingest job: ``ingest_directory`` over the batch directories in
    turn, an overwrite then appends, collecting each batch's report.
    One op is one batch."""

    name = "ingest"

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        self._expect_chunks()
        self.coll = os.path.join(self.work, "collection")
        self.batch = 0

    def op(self, traced: bool) -> Op:
        from vector_db_ingestor_spark.pipeline import ingest_directory

        batch, self.batch = self.batch, (self.batch + 1) % corpus.BATCHES
        files = self.inputs.batch_files(batch)
        op = Op(traced=traced, items=sum(len(self.inputs.files[f]) for f in files))
        before = _parquet_files(self.coll) if batch else {}
        mode = "overwrite" if batch == 0 else "append"
        t0 = time.perf_counter()
        report = self._call(
            op, "pipeline.ingest_directory",
            lambda: ingest_directory(self.spark, self.inputs.batch_dirs[batch], self.coll, mode=mode),
            traced,
        )
        got = FAILED
        if report is not FAILED:
            got = self._call(op, "pipeline.ingest_report.collect", report.collect, traced, count=False)
        op.cycle_s = time.perf_counter() - t0
        op.wall_s = sum(s.wall_s for s in op.spans)
        op.values = _sink(before, _parquet_files(self.coll))
        if got is FAILED:
            op.failed += report is not FAILED
            return op
        self._check_report(op, got, files)
        if batch == corpus.BATCHES - 1:
            uids = self._check_collection(op, self.coll)
            op.values["recall"] = len(uids & self.ref_uids) / len(self.ref_uids)
            op.values["write_amp"] = sum(
                b for b, _ in _parquet_files(self.coll).values()
            ) / self.inputs.text_bytes
        return op

    def end_to_end(self, ops):
        """One batch call (with its report) is the fast call."""
        done = [o for o in ops if "recall" in o.values]
        return {
            "fast_call_p50_s": median([o.wall_s for o in ops]),
            "result_recall": min((o.values["recall"] for o in done), default=0.0),
            "detail": {
                "ingest_docs_per_s": (_rate(ops), "docs/s"),
                "ingest_batch_p50_s": (median([o.wall_s for o in ops]), "s"),
                "ingest_write_amp": (_median0([o.values["write_amp"] for o in done]), "ratio"),
            },
        }

    def layers(self, ops):
        collects = _named(ops, "pipeline.ingest_report.collect")
        sink = {k: median([o.values[k] for o in ops]) for k in ops[0].values if k.startswith("sink.")}
        return {
            "pipeline.ingest_directory.s": median([s.wall_s for s in _named(ops, "pipeline.ingest_directory")]),
            "pipeline.ingest_report.collect_s": median([s.wall_s for s in collects]),
            "pipeline.ingest_report.rows_read": median([_rows_out(_nodes([s], "Scan parquet")) for s in collects]),
            "pipeline.files_ok_over_files": sum(o.values.get("files_ok", 0.0) for o in ops)
            / max(1.0, sum(o.values.get("files", 0.0) for o in ops)),
            **sink,
        }


# -------------------------------------------------------------- serve

class Serve(Workload):
    """Closed loop, one client, on one indexed collection.  Set-up
    ingests the whole corpus into the collection (one call over all
    batch directories, checked like the ingest job) and then builds its
    IVF index once (the run's one write).  One op is one cycle: a batch
    of SERVE_BATCH queries through ``search_ann`` (the slow call), then
    RAG_PER_CYCLE single ``context_for_rag`` lookups (the fast call)."""

    name = "serve"
    # one set-up ingests the whole corpus; the run budget allows one
    setup_reps = 1
    # after set-up's ingest and build, the first cycle is the slowest by
    # far (3.0 s vs 1.6-1.8 s per query batch, 0.62 s vs 0.4-0.5 s per
    # lookup over the next eleven); later cycles vary with the box more
    warmup_ops = 1
    min_ops = 5
    latency_name = "serve_cycle"

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        self._expect_chunks()
        self.coll = os.path.join(self.work, "collection")
        self.salt = 0

    def setup_rep(self) -> None:
        from vector_db_ingestor_spark.pipeline import ingest_directory

        pattern = os.path.join(os.path.dirname(self.inputs.batch_dirs[0]), "batch*")
        op = Op()
        self.setup_ops.append(op)
        self.report = self._call(
            op, "pipeline.ingest_directory",
            lambda: ingest_directory(self.spark, pattern, self.coll).collect(), False,
        )

    def prepare(self) -> list[Op]:
        from vector_db_ingestor_spark.pipeline import VectorCollection

        self.vc = VectorCollection(self.spark, self.coll)
        index = self.vc._ann_path("ivf")
        op = Op(traced=self.tracer.traced)
        t0 = time.perf_counter()
        self._call(op, "VectorCollection.build_ann_index",
                   lambda: self.vc.build_ann_index(kind="ivf"), op.traced)
        op.cycle_s = time.perf_counter() - t0
        op.wall_s = op.spans[0].wall_s
        op.values = _sink({}, _parquet_files(index))
        op.values["index_bytes"] = float(sum(
            os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(index) for f in fs
        ))
        self.build = op
        return [op]

    def references(self) -> None:
        """Checks the set-up ingest, then reads the collection as stored,
        without Spark."""
        from vector_db_ingestor_spark.pipeline import CHUNK_SCHEMA_COLS

        op = self.setup_ops[-1]
        if self.report is not FAILED:
            self._check_report(op, self.report, sorted(self.inputs.files))
        self._check_collection(op, self.coll)
        rows = pq.read_table(self.coll, columns=list(CHUNK_SCHEMA_COLS)).to_pylist()
        rows.sort(key=lambda r: r["chunk_uid"])
        for r in rows:
            r["metadata"] = dict(r["metadata"] or [])
        self.rows = {r["chunk_uid"]: r for r in rows}
        self.uids = [r["chunk_uid"] for r in rows]
        self.position = {u: i for i, u in enumerate(self.uids)}
        self.matrix = np.array([r["embedding"] for r in rows], dtype=np.float64)
        self.norms = np.sqrt(np.einsum("ij,ij->i", self.matrix, self.matrix))

    def _exact(self, query: str) -> tuple[list[float], np.ndarray, np.ndarray]:
        """(probe, exact cosine scores, ranking) over the stored
        embeddings, computed by numpy."""
        probe = self.vc.embedder.embed_one(query, prefix="query")
        p = np.asarray(probe, dtype=np.float64)
        scores = self.matrix @ p / (self.norms * math.sqrt(float(p @ p)))
        return probe, scores, np.argsort(-scores, kind="stable")

    def op(self, traced: bool) -> Op:
        self.salt += 1
        qs = corpus.queries(self.inputs, SERVE_BATCH + RAG_PER_CYCLE, self.salt)
        batch, lookups = qs[:SERVE_BATCH], qs[SERVE_BATCH:]
        op = Op(traced=traced, items=len(qs))
        t0 = time.perf_counter()
        plan = self._call(
            op, "VectorCollection.search_ann",
            lambda: self.vc.search_ann(batch, n_results=TOP_K), traced,
        )
        hits = FAILED
        if plan is not FAILED:
            hits = self._call(op, "search_ann.collect", plan.collect, traced, count=False)
            op.failed += hits is FAILED
        contexts = [
            self._call(op, "VectorCollection.context_for_rag",
                       lambda q=q: self.vc.context_for_rag(q), traced)
            for q in lookups
        ]
        op.cycle_s = time.perf_counter() - t0
        op.wall_s = sum(s.wall_s for s in op.spans)
        op.values["recall"] = 0.0
        if hits is not FAILED:
            op.values["rows_returned"] = float(len(hits))
            op.values["recall"] = self._check_hits(op, batch, hits)
        for q, c in zip(lookups, contexts):
            if c is not FAILED:
                self._check_context(op, q, c)
        return op

    def _check_hits(self, op: Op, qs: list[str], hits) -> float:
        """Fails the op unless every query has ranks 1..TOP_K and every
        hit row equals its collection row; returns recall@TOP_K against
        the exact top-k."""
        by_query: dict[int, list] = {}
        for h in hits:
            by_query.setdefault(h.query_id, []).append(h)
        recalls = []
        bad = 0
        for qid, q in enumerate(qs):
            got = sorted(by_query.get(qid, []), key=lambda h: h.rank)
            bad += [h.rank for h in got] != list(range(1, TOP_K + 1))
            for h in got:
                row = self.rows.get(h.chunk_uid)
                d = h.asDict()
                d["metadata"] = dict(d["metadata"] or {})
                bad += row is None or any(d[c] != v for c, v in row.items())
            _, scores, order = self._exact(q)
            kth = scores[order[TOP_K - 1]]
            # a hit tied with the exact k-th score counts: duplicate
            # chunks have equal embeddings
            recalls.append(sum(
                1 for h in got
                if h.chunk_uid in self.position
                and scores[self.position[h.chunk_uid]] >= kth - 1e-9
            ) / TOP_K)
        if bad:
            self._fail(op, f"{bad} rankings or hit rows differ from the collection")
        return sum(recalls) / len(recalls)

    def _check_context(self, op: Op, query: str, context: str) -> None:
        """Fails the op unless the context equals the exact rebuild."""
        want = self._rag_reference(query)
        op.values["pieces"] = op.values.get("pieces", 0.0) + len(context.split(RAG_SEPARATOR))
        if context != RAG_SEPARATOR.join(want):
            self._fail(op, f"context for {query!r} differs from the exact rebuild")

    def _rag_reference(self, query: str) -> list[str]:
        """The reference's get_context_for_rag over an exact top-k:
        scores as Spark computes them (left-fold dot products, rounded
        half-up to 6 places), ties broken by chunk id, then pieces kept
        greedily while the running length fits the budget."""
        probe, scores, order = self._exact(query)
        # re-score exactly a numpy shortlist wide enough to hold every
        # row the rounding could move into the top k
        cutoff = scores[order[TOP_K - 1]] - 1e-6
        shortlist = [i for i in order[: 4 * TOP_K] if scores[i] >= cutoff]
        probe_norm = math.sqrt(_fold_dot(probe, probe))

        def spark_score(i: int) -> float:
            v = self.matrix[i].tolist()
            cos = _fold_dot(v, probe) / (math.sqrt(_fold_dot(v, v)) * probe_norm)
            return float(Decimal(repr(cos)).quantize(Decimal("1e-6"), ROUND_HALF_UP))

        ranked = sorted(shortlist, key=lambda i: (-spark_score(i), self.uids[i]))[:TOP_K]
        pieces, total = [], 0
        for i in ranked:
            row = self.rows[self.uids[i]]
            piece = f"[Source: {row['filename']}, Chunk: {row['chunk_id']}]\n{row['text']}\n"
            if total + len(piece) > RAG_BUDGET:
                break
            pieces.append(piece)
            total += len(piece)
        return pieces

    def end_to_end(self, ops):
        """A RAG lookup is the fast call; a query batch, planned and
        collected, is the slow call."""
        batches = [s.wall_s for s in _named(ops, "VectorCollection.search_ann")]
        collects = [s.wall_s for s in _named(ops, "search_ann.collect")]
        rag = [s.wall_s for s in _named(ops, "VectorCollection.context_for_rag")]
        rag_tail, rag_pct = tail(rag) if rag else (0.0, 50)
        search = [a + b for a, b in zip(batches, collects)]
        recall = sum(o.values["recall"] for o in ops) / len(ops)
        return {
            "fast_call_p50_s": _median0(rag),
            "slow_call_p50_s": _median0(search),
            "result_recall": recall,
            "detail": {
                "serve_build_s": (self.build.wall_s, "s"),
                "serve_qps": (SERVE_BATCH / median(search) if search else 0.0, "queries/s"),
                "serve_batch_p50_s": (_median0(search), "s"),
                "serve_recall_at_10": (recall, "ratio"),
                "rag_p50_s": (_median0(rag), "s"),
                "rag_tail_s": (rag_tail, "s"),
                "rag_tail_pct": (float(rag_pct), "percentile"),
                "rag_calls": (float(len(rag)), "count"),
            },
        }

    def layers(self, ops):
        per_op = []
        for o in ops:
            search = [s for s in o.spans if s.name != "VectorCollection.context_for_rag"]
            rag = [s for s in o.spans if s.name == "VectorCollection.context_for_rag"]
            scans = [
                n for n in _nodes(search, "Scan parquet")
                if "_ann_ivf" in n.desc and "number of partitions read" in n.metrics
            ]
            joins = [n for n in _nodes(search, "Join") if "[cid#" in n.desc]
            scanned = _rows_out(scans)
            returned = o.values.get("rows_returned", 0.0)
            per_op.append({
                "similarity.cells_probed": sum(n.metrics["number of partitions read"] for n in scans),
                "similarity.rows_scanned": scanned,
                "similarity.rows_scored": _rows_out(joins),
                "similarity.rows_returned": returned,
                "similarity.returned_over_scanned": returned / scanned if scanned else 0.0,
                "topk.rows_scanned": _rows_out(_nodes(rag, "Scan parquet")) / max(1, len(rag)),
                "context.pieces_kept": o.values.get("pieces", 0.0) / max(1, len(rag)),
            })
        plans = _named(ops, "VectorCollection.search_ann")
        build = self.build
        return {
            **{k: median([p[k] for p in per_op]) for k in per_op[0]},
            "pipeline.search_ann.plan_s": median([s.wall_s for s in plans]),
            "pipeline.search_ann.plan_jobs": median([s.spark.get("sched.jobs", 0.0) for s in plans]),
            "similarity.ivf_build.s": build.wall_s,
            "similarity.ivf_build.jobs": build.spans[0].spark.get("sched.jobs", 0.0),
            "similarity.ivf_build.index_bytes": build.values["index_bytes"],
            **{k: v for k, v in build.values.items() if k.startswith("sink.")},
        }


def _fold_dot(a, b) -> float:
    """Left-to-right double sum of a*b from 0.0, the order of the
    package's ``aggregate(zip_with(...))`` dot product."""
    acc = 0.0
    for x, y in zip(a, b):
        acc += x * y
    return acc


# -------------------------------------------------------------- curate

class Curate(Workload):
    """The curate job over the docs as parquet: ``dedup_exact`` ->
    ``minhash_verified_pairs`` -> ``dedup_clusters``, then
    ``caching.release_all``.  One op is one job."""

    name = "curate"

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        self.parquet = os.path.join(self.work, "docs.parquet")
        docs = self.inputs.docs
        self.survivors = corpus.exact_survivors(docs)
        self.ref_pairs = corpus.near_dup_pairs(docs, self.cache)
        self.shingles = {i: corpus.shingles(docs[i]) for i in self.survivors}

    def setup_rep(self) -> None:
        rows = [(i, self.inputs.docs[i]) for i in self.inputs.order]
        self.spark.createDataFrame(rows, "doc_id BIGINT, text STRING") \
            .write.mode("overwrite").parquet(self.parquet)

    def op(self, traced: bool) -> Op:
        from vector_db_ingestor_spark import caching
        from vector_db_ingestor_spark.operators.dedup import (
            dedup_clusters,
            dedup_exact,
            minhash_verified_pairs,
        )

        op = Op(traced=traced, items=len(self.inputs.docs))
        t0 = time.perf_counter()
        docs = self.spark.read.parquet(self.parquet)
        ex = self._call(op, "dedup.dedup_exact", lambda: dedup_exact(docs), traced)
        pairs = clusters = FAILED
        if ex is not FAILED:
            pairs = self._call(op, "dedup.minhash_verified_pairs",
                               lambda: minhash_verified_pairs(ex).collect(), traced)
            op.values["persisted_after_pairs"] = _persisted_bytes(self.spark) if traced else 0.0
        if pairs is not FAILED:
            edges = self.spark.createDataFrame(
                [(p.id_a, p.id_b, p.jaccard) for p in pairs],
                "id_a BIGINT, id_b BIGINT, jaccard DOUBLE",
            )
            clusters = self._call(op, "dedup.dedup_clusters",
                                  lambda: dedup_clusters(edges, ex.select("doc_id")).collect(), traced)
            op.values["persisted_after_clusters"] = _persisted_bytes(self.spark) if traced else 0.0
        self._call(op, "caching.release_all", caching.release_all, traced, count=False)
        op.cycle_s = time.perf_counter() - t0
        op.wall_s = sum(s.wall_s for s in op.spans)
        op.values["recall"] = 0.0
        if pairs is not FAILED:
            self._check_pairs(op, pairs)
            if clusters is not FAILED:
                self._check_clusters(op, pairs, clusters)
        return op

    def _check_pairs(self, op: Op, pairs) -> None:
        got = set()
        bad = 0
        for p in pairs:
            a, b = p.id_a, p.id_b
            if a >= b or a not in self.shingles or b not in self.shingles:
                bad += 1
                continue
            jac = corpus.jaccard(self.shingles[a], self.shingles[b])
            bad += jac < corpus.JACCARD_MIN or abs(jac - p.jaccard) > 1e-6
            got.add((a, b))
        if bad:
            self._fail(op, f"{bad} emitted pairs fail the Jaccard recheck")
        op.values["confirmed"] = float(len(pairs))
        op.values["recall"] = len(got & self.ref_pairs) / len(self.ref_pairs) if self.ref_pairs else 1.0

    def _check_clusters(self, op: Op, pairs, clusters) -> None:
        """Fails the op unless the clusters cover exactly the exact-dedup
        survivors and equal a union-find over the emitted pairs."""
        parent = {i: i for i in self.survivors}

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for p in pairs:
            if p.id_a in parent and p.id_b in parent:
                ra, rb = find(p.id_a), find(p.id_b)
                parent[max(ra, rb)] = min(ra, rb)
        want = {i: find(i) for i in parent}
        got = {r.doc_id: r.cluster_id for r in clusters}
        if got != want:
            self._fail(op, "clusters differ from a union-find over the pairs")
        op.values["rows_out"] = float(len(got))

    def end_to_end(self, ops):
        """The whole job is the slow call."""
        recall = min(o.values["recall"] for o in ops)
        return {
            "slow_call_p50_s": median([o.wall_s for o in ops]),
            "result_recall": recall,
            "detail": {
                "curate_docs_per_s": (_rate(ops), "docs/s"),
                "curate_job_p50_s": (median([o.wall_s for o in ops]), "s"),
                "curate_pair_recall": (recall, "ratio"),
            },
        }

    def layers(self, ops):
        per_op = []
        for o in ops:
            mh = [s for s in o.spans if s.name == "dedup.minhash_verified_pairs"]
            cl = [s for s in o.spans if s.name == "dedup.dedup_clusters"]
            # each LSH candidate joins its own id_a row exactly once
            joins = [n for n in _nodes(mh, "Join") if "[id_a#" in n.desc]
            candidates = max((_rows_out([n]) for n in joins), default=0.0)
            confirmed = o.values.get("confirmed", 0.0)
            per_op.append({
                "dedup.exact.rows_in": float(o.items),
                "dedup.exact.rows_out": o.values.get("rows_out", 0.0),
                "dedup.minhash.candidates": candidates,
                "dedup.minhash.confirmed": confirmed,
                "dedup.minhash.confirmed_over_candidates": confirmed / candidates if candidates else 0.0,
                "dedup.clusters.rounds": float(sum(a == "count" for s in cl for a in s.actions)),
                "dedup.clusters.jobs": sum(s.spark.get("sched.jobs", 0.0) for s in cl),
                "caching.persisted_bytes_peak": max(
                    o.values.get("persisted_after_pairs", 0.0),
                    o.values.get("persisted_after_clusters", 0.0),
                ),
                "caching.release_s": sum(s.wall_s for s in o.spans if s.name == "caching.release_all"),
            })
        return {k: median([p[k] for p in per_op]) for k in per_op[0]}


def _persisted_bytes(spark) -> float:
    """Bytes of cached RDD blocks, in memory and on disk, right now."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return float(sum(i.memSize() + i.diskSize() for i in infos))


# -------------------------------------------------------------- batch

class Batch(Workload):
    """The batch pipeline: the ingest job and the curate job over the
    same corpus, interleaved.  One op is the ingest job's next batch call
    (with its report), then one curate job, so that a run takes as many
    samples of the curate job as of the ingest call; BATCHES ops make
    one whole ingest job."""

    name = "batch"
    # the curate input written as parquet
    setup_reps = 3
    # set-up runs the curate job once (``prepare``): cold, it took twice
    # as long as warm.  No op is run as warm-up: the loop's median drops
    # the first, slower op.  A warm-up op added 6-9 s to every run and
    # did not make ten runs agree better (quartile spread 0.16-0.18 of
    # the median, against 0.11-0.20 without)
    warmup_ops = 0
    # a whole ingest job (an overwrite and every append, in some
    # rotation), so that every run checks a whole collection.  A sixth
    # op made runs 6-7 s longer and did not make them agree better: the
    # box's own speed drifted by up to 20% over a set of runs
    min_ops = corpus.BATCHES
    # a traced op is as long as an untraced one; two keep a traced run
    # about as long as a timed one
    traced_ops = 2
    latency_name = "batch_op"

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        self.ingest = Ingest(*a, **kw)
        self.curate = Curate(*a, **kw)

    def setup_rep(self) -> None:
        self.curate.setup_rep()

    def prepare(self) -> list[Op]:
        return [self.curate.op(False)]

    def op(self, traced: bool) -> Op:
        parts = [self.ingest.op(traced), self.curate.op(traced)]
        return Op(
            wall_s=sum(p.wall_s for p in parts),
            cycle_s=sum(p.cycle_s for p in parts),
            calls=sum(p.calls for p in parts),
            failed=sum(p.failed for p in parts),
            traced=traced,
            spans=[s for p in parts for s in p.spans],
            parts=parts,
        )

    @staticmethod
    def _split(ops: list[Op]) -> tuple[list[Op], list[Op]]:
        return [o.parts[0] for o in ops], [o.parts[1] for o in ops]

    def end_to_end(self, ops):
        """An ingest batch call is the fast call, the curate job the
        slow call."""
        ingest, curate = self._split(ops)
        a, b = self.ingest.end_to_end(ingest), self.curate.end_to_end(curate)
        return {
            "fast_call_p50_s": a["fast_call_p50_s"],
            "slow_call_p50_s": b["slow_call_p50_s"],
            "result_recall": min(a["result_recall"], b["result_recall"]),
            "detail": {**a["detail"], **b["detail"]},
        }

    def layers(self, ops):
        ingest, curate = self._split(ops)
        return {**self.ingest.layers(ingest), **self.curate.layers(curate)}


WORKLOADS = {w.name: w for w in (Batch, Serve)}


def reset_dir(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
