"""Seeded benchmark inputs and the references the output checks use.

All workloads share one corpus: the sf0.1 ``documents`` table
(``data/documents_sf0.1.parquet``, 5,000 word-salad docs) replicated
:data:`REPLICAS` times by ``replicate_docs`` from
``scripts/scale_probe.py``.  Its per-copy alphabet rotation keeps the
near-duplicate density of the base table, so the curate job finds as
many pairs per doc at every size.  The replicated table does not depend
on the seed and is cached once per checkout.

The seed sets the doc order, the grouping of docs into PDF files and the
query sample.  Per seed the docs are written as Flate-compressed
multi-page PDFs (one doc per page, :data:`DOCS_PER_FILE` per file) in
:data:`BATCHES` batch directories, using only the stdlib.  The program
only ever sees these files, or the docs written as parquet by the curate
set-up.

References are computed without Spark: the chunk ids the ingest must
produce (DuckDB chunker mirror from ``queries.py``), the exact
near-duplicate pairs (Python shingles), and the text the stdlib PDF
extractor must return for each file.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import re
import shutil
import time
import zlib
from dataclasses import dataclass
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq

BASE_TABLE = Path(__file__).resolve().parent / "data" / "documents_sf0.1.parquet"

#: corpus size: copies of the 5,000-doc base table (see README for why
#: not the 10x of the larger probes: every run must fit the run budget)
REPLICAS = 1
BATCHES = 5
DOCS_PER_FILE = 50
LINE_CHARS = 80
CHUNK_SIZE = 600
CHUNK_OVERLAP = 50
JACCARD_MIN = 0.5
SHINGLE_N = 3
QUERY_WORDS = 8


@dataclass(frozen=True)
class Inputs:
    """One seed's generated inputs, as files under ``root``."""

    seed: int
    root: Path
    batch_dirs: tuple[str, ...]
    files: dict[str, list[int]]  # file name -> doc ids in page order
    docs: dict[int, str]  # doc id -> text
    order: tuple[int, ...]  # doc ids in seed order
    gen_s: float

    @property
    def text_bytes(self) -> int:
        return sum(len(t.encode("utf-8")) for t in self.docs.values())

    def batch_files(self, batch: int) -> list[str]:
        return sorted(os.listdir(self.batch_dirs[batch]))


# ------------------------------------------------------------------ PDF

def page_lines(text: str) -> list[str]:
    """Wrap one doc into page lines at spaces, at most LINE_CHARS wide
    (a longer word gets a line of its own)."""
    lines: list[str] = []
    cur = ""
    for word in text.split(" "):
        if cur and len(cur) + 1 + len(word) > LINE_CHARS:
            lines.append(cur)
            cur = word
        else:
            cur = f"{cur} {word}" if cur else word
    lines.append(cur)
    return lines


def extracted_text(texts: list[str]) -> str:
    """The text ``sources.pdf.extract_text_stdlib`` returns for the PDF
    :func:`pdf_bytes` writes for ``texts``: every shown string plus one
    space, one newline per page content stream, non-printables dropped,
    stripped."""
    body = "".join(
        "".join(line + " " for line in page_lines(t)) + "\n" for t in texts
    )
    return re.sub(r"[^\x20-\x7E\n\t]", "", body).strip()


def _pdf_string(line: str) -> bytes:
    esc = line.replace("\\", "\\\\").replace("(", "\\(").replace(")", "\\)")
    return b"(" + esc.encode("latin-1") + b")"


def pdf_bytes(texts: list[str]) -> bytes:
    """A PDF 1.4 file with one page per text, each page one
    FlateDecode content stream of Tj lines in a Type1 Helvetica font."""
    n = len(texts)
    font = 3 + 2 * n
    objs = [
        b"<< /Type /Catalog /Pages 2 0 R >>",
        (
            "<< /Type /Pages /Kids ["
            + " ".join(f"{3 + 2 * i} 0 R" for i in range(n))
            + f"] /Count {n} >>"
        ).encode(),
    ]
    for i, text in enumerate(texts):
        ops = b"BT /F1 10 Tf 12 TL 72 720 Td " + b" T* ".join(
            _pdf_string(line) + b" Tj" for line in page_lines(text)
        ) + b" ET"
        stream = zlib.compress(ops, 6)
        objs.append(
            (
                "<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
                f"/Resources << /Font << /F1 {font} 0 R >> >> "
                f"/Contents {4 + 2 * i} 0 R >>"
            ).encode()
        )
        # "endstream" and "endobj" share a line: the stdlib extractor
        # looks for streams with a bare ``stream<EOL>`` pattern, which
        # would also match an "endstream<EOL>"
        objs.append(
            f"<< /Length {len(stream)} /Filter /FlateDecode >>\nstream\n".encode()
            + stream
            + b"\nendstream"
        )
    objs.append(b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>")
    out = bytearray(b"%PDF-1.4\n")
    offsets = []
    for num, body in enumerate(objs, 1):
        offsets.append(len(out))
        out += f"{num} 0 obj\n".encode() + body + b" endobj\n"
    xref = len(out)
    out += f"xref\n0 {len(objs) + 1}\n0000000000 65535 f \n".encode()
    out += b"".join(f"{o:010d} 00000 n \n".encode() for o in offsets)
    out += (
        f"trailer\n<< /Size {len(objs) + 1} /Root 1 0 R >>\n"
        f"startxref\n{xref}\n%%EOF\n"
    ).encode()
    return bytes(out)


# -------------------------------------------------------------- corpus

def replicated_docs(spark, cache: Path) -> dict[int, str]:
    """doc id -> text of the replicated corpus, cached under ``cache``."""
    path = cache / f"corpus-x{REPLICAS}" / "docs.parquet"
    if not path.exists():
        from scale_probe import replicate_docs

        base = spark.read.parquet(str(BASE_TABLE))
        rows = replicate_docs(base, REPLICAS).select("doc_id", "text").collect()
        table = pa.table(
            {
                "doc_id": pa.array([r.doc_id for r in rows], pa.int64()),
                "text": pa.array([r.text for r in rows], pa.string()),
            }
        )
        path.parent.mkdir(parents=True, exist_ok=True)
        tmp = path.with_suffix(".tmp")
        pq.write_table(table, tmp)
        os.replace(tmp, path)
    t = pq.read_table(path).to_pydict()
    return dict(zip(t["doc_id"], t["text"]))


def seed_layout(doc_ids: list[int], seed: int) -> tuple[list[int], dict[str, list[int]]]:
    """(doc order, file name -> doc ids) for one seed.  File ``k`` holds
    the ``k``-th run of DOCS_PER_FILE docs in seed order and lands in
    batch ``k % BATCHES``."""
    order = sorted(doc_ids)
    random.Random(seed).shuffle(order)
    files = {
        f"b{k % BATCHES}-f{k:04d}.pdf": order[k * DOCS_PER_FILE:(k + 1) * DOCS_PER_FILE]
        for k in range((len(order) + DOCS_PER_FILE - 1) // DOCS_PER_FILE)
    }
    return order, files


def generate(spark, cache: Path, seed: int) -> Inputs:
    """Write (or reuse) the seed's PDFs under the corpus's cache dir."""
    t0 = time.perf_counter()
    docs = replicated_docs(spark, cache)
    order, files = seed_layout(list(docs), seed)
    root = cache / f"corpus-x{REPLICAS}" / f"seed-{seed}"
    batch_dirs = tuple(str(root / "pdf" / f"batch{b}") for b in range(BATCHES))
    done = root / "COMPLETE"
    if not done.exists():
        shutil.rmtree(root, ignore_errors=True)
        for d in batch_dirs:
            os.makedirs(d)
        for name, ids in files.items():
            batch = int(name[1:name.index("-")])
            with open(os.path.join(batch_dirs[batch], name), "wb") as fh:
                fh.write(pdf_bytes([docs[i] for i in ids]))
        done.write_text(json.dumps({"seed": seed, "files": len(files)}))
    return Inputs(
        seed=seed,
        root=root,
        batch_dirs=batch_dirs,
        files=files,
        docs=docs,
        order=tuple(order),
        gen_s=time.perf_counter() - t0,
    )


def queries(inputs: Inputs, n: int, salt: int) -> list[str]:
    """``n`` seeded queries: a QUERY_WORDS-word window of a random doc."""
    rng = random.Random(inputs.seed * 1_000_003 + salt)
    out = []
    for _ in range(n):
        words = inputs.docs[rng.choice(inputs.order)].split()
        start = rng.randrange(max(1, len(words) - QUERY_WORDS + 1))
        out.append(" ".join(words[start:start + QUERY_WORDS]))
    return out


# ---------------------------------------------------------- references

def chunk_uid(filename: str, chunk_index: int, text: str) -> str:
    """``pipeline.build_chunks``'s id: sha2 of the \\x01-joined fields."""
    raw = "\x01".join((filename, str(chunk_index), text)).encode("utf-8")
    return hashlib.sha256(raw).hexdigest()


def uid_digest(uids) -> str:
    """Order-independent digest of a set of chunk ids."""
    return hashlib.sha256("\n".join(sorted(uids)).encode()).hexdigest()


def expected_chunks(inputs: Inputs) -> dict[str, list[str]]:
    """file name -> chunk ids the ingest must write for it, chunked by
    the DuckDB recursive-CTE mirror of ``operators.chunker.chunk_text``.
    Cached in the seed directory."""
    path = inputs.root / f"chunks-{CHUNK_SIZE}-{CHUNK_OVERLAP}.json"
    if path.exists():
        return json.loads(path.read_text())
    import duckdb

    from vector_db_ingestor_spark.queries import _chunker_oracle

    names = sorted(inputs.files)
    texts = [extracted_text([inputs.docs[i] for i in inputs.files[f]]) for f in names]
    con = duckdb.connect()
    try:
        con.register(
            "documents",
            pa.table({"doc_id": pa.array(range(len(names)), pa.int64()), "text": texts}),
        )
        rows = con.execute(
            f"SELECT doc_id, chunk_index, chunk FROM "
            f"({_chunker_oracle(CHUNK_SIZE, CHUNK_OVERLAP)}) ORDER BY 1, 2"
        ).fetchall()
    finally:
        con.close()
    out: dict[str, list[str]] = {f: [] for f in names}
    for doc_id, idx, chunk in rows:
        out[names[doc_id]].append(chunk_uid(names[doc_id], idx, chunk))
    path.write_text(json.dumps(out))
    return out


def shingles(text: str) -> frozenset[str]:
    """Python mirror of ``dedup.word_shingles_sql``: distinct word
    SHINGLE_N-grams of the lower-cased, space-trimmed text split on
    whitespace runs."""
    toks = re.split(r"[ \t\n\x0b\f\r]+", text.strip(" ").lower())
    return frozenset(
        " ".join(toks[i:i + SHINGLE_N]) for i in range(len(toks) - SHINGLE_N + 1)
    )


def jaccard(a: frozenset, b: frozenset) -> float:
    union = len(a | b)
    return len(a & b) / union if union else 0.0


def exact_survivors(docs: dict[int, str]) -> list[int]:
    """``dedup.dedup_exact``'s survivors: lowest id per identical text."""
    first: dict[str, int] = {}
    for doc_id in sorted(docs):
        first.setdefault(docs[doc_id], doc_id)
    return sorted(first.values())


def near_dup_pairs(docs: dict[int, str], cache: Path) -> set[tuple[int, int]]:
    """All (a < b) pairs of exact-dedup survivors with word-shingle
    Jaccard >= JACCARD_MIN, found through a shingle inverted index.  The
    corpus is seed-independent, so the reference is cached per corpus."""
    path = cache / f"corpus-x{REPLICAS}" / "near_dup_pairs.json"
    if path.exists():
        return {tuple(p) for p in json.loads(path.read_text())}
    ids = exact_survivors(docs)
    sh = {i: shingles(docs[i]) for i in ids}
    postings: dict[str, list[int]] = {}
    for i in ids:
        for g in sh[i]:
            postings.setdefault(g, []).append(i)
    shared: dict[tuple[int, int], int] = {}
    for members in postings.values():
        for x in range(len(members)):
            for y in range(x + 1, len(members)):
                key = (members[x], members[y])
                shared[key] = shared.get(key, 0) + 1
    pairs = set()
    for (a, b), inter in shared.items():
        if inter / (len(sh[a]) + len(sh[b]) - inter) >= JACCARD_MIN:
            pairs.add((min(a, b), max(a, b)))
    path.parent.mkdir(parents=True, exist_ok=True)
    path.write_text(json.dumps(sorted(pairs)))
    return pairs
