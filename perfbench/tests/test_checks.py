"""The ingest checks both workloads share, and the tracing overhead."""

from __future__ import annotations

from collections import namedtuple

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from perfbench.layers import overhead_s
from perfbench.workloads import Op, Workload

Row = namedtuple("Row", "filename status n_chunks")


def _workload() -> Workload:
    wl = Workload.__new__(Workload)
    wl.name = "test"
    wl.expected = {"a.pdf": ["u1", "u2"], "b.pdf": ["u3"]}
    wl.ref_uids = {"u1", "u2", "u3"}
    return wl


@pytest.mark.parametrize("rows, failed", [
    ([Row("a.pdf", "ok", 2), Row("b.pdf", "ok", 1)], 0),
    ([Row("a.pdf", "ok", 2), Row("b.pdf", "error", 0)], 1),
    ([Row("a.pdf", "ok", 1), Row("b.pdf", "ok", 1)], 1),
    ([Row("a.pdf", "ok", 2)], 1),
])
def test_report_check(rows, failed):
    op = Op()
    _workload()._check_report(op, rows, ["a.pdf", "b.pdf"])
    assert op.failed == failed


@pytest.mark.parametrize("uids, failed", [
    (["u3", "u1", "u2"], 0),
    (["u1", "u2"], 1),
    (["u1", "u2", "u3", "u3"], 1),
    (["u1", "u2", "u4"], 1),
])
def test_collection_check(tmp_path, uids, failed):
    pq.write_table(pa.table({"chunk_uid": uids}), tmp_path / "part-0.parquet")
    op = Op()
    got = _workload()._check_collection(op, str(tmp_path))
    assert op.failed == failed
    assert got == set(uids)


def test_overhead_cancels_a_steady_trend():
    # cycles speed up by 0.3 s per op; traced ops pay 0.1 s more
    ops = [Op(cycle_s=5.0 - 0.3 * i + (0.1 if i % 2 else 0.0), traced=bool(i % 2)) for i in range(7)]
    assert overhead_s(ops) == pytest.approx(0.1)
