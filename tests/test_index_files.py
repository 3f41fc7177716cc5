"""The driver's reads of a loaded index's files (miru_spark.index_files):
term and range reads return exactly the matching rows and open only the row
groups whose footer term range can hold them."""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest

from miru_spark import index_files
from miru_spark.index_files import IndexFiles

SCHEMA = pa.schema([("term", pa.string()), ("df", pa.int64())])


@pytest.fixture(scope="module")
def files(tmp_path_factory):
    """40,000 sorted terms in two files of 20 row groups each, and one
    unsorted file whose row groups all span most of the range."""
    d = tmp_path_factory.mktemp("index_files")
    terms = [f"t{i:05d}" for i in range(40_000)]
    paths = []
    for n, chunk in enumerate((terms[:20_000], terms[20_000:])):
        paths.append(str(d / f"part-{n}.parquet"))
        pq.write_table(pa.table({"term": chunk, "df": np.arange(len(chunk))}, schema=SCHEMA),
                       paths[-1], row_group_size=1000)
    rng = np.random.default_rng(7)
    mixed = [terms[i] for i in rng.permutation(40_000)[:3000]]
    paths.append(str(d / "part-2.parquet"))
    pq.write_table(pa.table({"term": mixed, "df": np.full(3000, -1)}, schema=SCHEMA),
                   paths[-1], row_group_size=1000)
    everything = pa.concat_tables(pq.read_table(p, schema=SCHEMA) for p in paths)
    return paths, everything


def _opened(monkeypatch):
    """Count the row groups IndexFiles reads."""
    opened = []
    real = pq.ParquetFile.read_row_groups

    def spy(self, row_groups, *a, **kw):
        opened.extend(row_groups)
        return real(self, row_groups, *a, **kw)

    monkeypatch.setattr(index_files.pq.ParquetFile, "read_row_groups", spy)
    return opened


def _rows(t):
    return sorted(zip(t["term"].to_pylist(), t["df"].to_pylist()))


def test_term_reads_prune_by_footer_ranges(files, monkeypatch):
    paths, everything = files
    f = IndexFiles(paths, SCHEMA)
    opened = _opened(monkeypatch)
    rng = np.random.default_rng(11)
    for n in (1, 10, 400):
        idx = rng.choice(40_000, n, replace=False)
        picked = [f"t{i:05d}" for i in idx] + ["t12345x", "absent"]
        opened.clear()
        got = f.read(["term", "df"], terms=picked)
        want = everything.filter(pc.is_in(everything["term"], value_set=pa.array(picked)))
        assert _rows(got) == _rows(want) and got.num_rows >= n
        # the sorted files' row groups read are those of the picked terms
        # (t12345x falls in t12345's); the unsorted file's 3 always overlap
        assert len(opened) <= len({i // 1000 for i in idx} | {12}) + 3, (n, len(opened))
    opened.clear()
    # past every file's range: nothing is opened
    assert f.read(["term", "df"], terms=["zzz"]).num_rows == 0 and not opened


def test_range_reads_prune_by_footer_ranges(files, monkeypatch):
    paths, everything = files
    f = IndexFiles(paths, SCHEMA)
    opened = _opened(monkeypatch)
    for lo, hi in [("t123", "t124"), ("t39999", None), ("t0", "t00001"), ("u", None)]:
        opened.clear()
        got = f.read(["term", "df"], lo=lo, hi=hi)
        terms = everything["term"].to_pylist()
        want = [(t, d) for t, d in zip(terms, everything["df"].to_pylist())
                if t >= lo and (hi is None or t < hi)]
        assert _rows(got) == sorted(want), (lo, hi)
        assert len(opened) <= 2 + 3, (lo, hi, len(opened))
    assert _rows(f.read(["term", "df"])) == _rows(everything)
