"""The seeded input generator and the PDF it writes."""

from __future__ import annotations

import hashlib
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from perfbench import corpus
from vector_db_ingestor_spark.operators.chunker import chunk_text
from vector_db_ingestor_spark.sources.pdf import extract_pdf_text


@pytest.fixture(scope="module")
def base_docs() -> dict[int, str]:
    t = pq.read_table(corpus.BASE_TABLE).to_pydict()
    return dict(zip(t["doc_id"], t["text"]))


def _seeded_cache(tmp_path, docs: dict[int, str]):
    """A cache whose replicated corpus is already present, so generate()
    needs no Spark session."""
    path = tmp_path / f"corpus-x{corpus.REPLICAS}" / "docs.parquet"
    path.parent.mkdir(parents=True)
    pq.write_table(pa.table({"doc_id": list(docs), "text": list(docs.values())}), path)
    return tmp_path


def _tree_digest(root: str) -> dict[str, str]:
    out = {}
    for dirpath, _, files in os.walk(root):
        for name in files:
            with open(os.path.join(dirpath, name), "rb") as fh:
                out[os.path.relpath(os.path.join(dirpath, name), root)] = hashlib.sha256(fh.read()).hexdigest()
    return out


def test_generator_is_deterministic_per_seed(tmp_path, base_docs):
    docs = dict(list(base_docs.items())[:400])
    a = corpus.generate(None, _seeded_cache(tmp_path / "a", docs), seed=11)
    b = corpus.generate(None, _seeded_cache(tmp_path / "b", docs), seed=11)
    c = corpus.generate(None, _seeded_cache(tmp_path / "c", docs), seed=12)
    assert a.files == b.files
    assert _tree_digest(str(a.root / "pdf")) == _tree_digest(str(b.root / "pdf"))
    assert corpus.queries(a, 8, 1) == corpus.queries(b, 8, 1)
    assert a.files != c.files
    assert corpus.queries(a, 8, 1) != corpus.queries(c, 8, 1)
    # every doc lands in exactly one file, each file in one batch dir
    placed = sorted(i for ids in a.files.values() for i in ids)
    assert placed == sorted(docs)
    assert sum(len(a.batch_files(b)) for b in range(corpus.BATCHES)) == len(a.files)


def test_generated_pdf_round_trips_through_extract_pdf_text(base_docs):
    ids = sorted(base_docs)[:corpus.DOCS_PER_FILE]
    texts = [base_docs[i] for i in ids]
    blob = corpus.pdf_bytes(texts)
    assert blob.startswith(b"%PDF-1.4") and blob.rstrip().endswith(b"%%EOF")
    got = extract_pdf_text(blob)
    assert got == corpus.extracted_text(texts)
    # every word of every doc survives, in order
    assert got.split() == " ".join(texts).split()


def test_pdf_strings_escape_delimiters():
    texts = ["a (paren) and \\ backslash", "second page"]
    assert extract_pdf_text(corpus.pdf_bytes(texts)) == corpus.extracted_text(texts)


def test_chunk_reference_matches_the_python_chunker(tmp_path, base_docs):
    docs = dict(list(base_docs.items())[:300])
    inputs = corpus.generate(None, _seeded_cache(tmp_path, docs), seed=3)
    expected = corpus.expected_chunks(inputs)
    for name, ids in inputs.files.items():
        text = corpus.extracted_text([docs[i] for i in ids])
        pieces = chunk_text(text, corpus.CHUNK_SIZE, corpus.CHUNK_OVERLAP)
        assert expected[name] == [corpus.chunk_uid(name, i, p) for i, p in enumerate(pieces)]


def test_near_dup_reference_matches_brute_force(tmp_path, base_docs):
    docs = dict(list(base_docs.items())[:600])
    pairs = corpus.near_dup_pairs(docs, tmp_path)
    ids = corpus.exact_survivors(docs)
    sh = {i: corpus.shingles(docs[i]) for i in ids}
    brute = {
        (a, b)
        for x, a in enumerate(ids)
        for b in ids[x + 1:]
        if corpus.jaccard(sh[a], sh[b]) >= corpus.JACCARD_MIN
    }
    assert pairs == brute
