"""A loaded index's parquet files, read on the driver with pyarrow.

``index_store.load_index`` lists the committed files of the artifacts the
query path reads — the merged postings and stats with their delta waves,
and the removal batches — as ``IndexFiles`` and opens none of them. Term
lookups and bounded top-k queries then read them on the calling thread: no
Spark job, and no pyarrow thread pool, so a query's CPU stays on the thread
that asked for it. That is why reads go through ``ParquetFile`` with
``use_threads=False``: a ``pyarrow.dataset`` scan decodes on pyarrow's
pools even with ``use_threads=False`` (measured: 5 of 150 cpu-ms on the
calling thread for four postings files).

The merged layouts are term-sorted parquet, so a term read prunes by hand:
the first read caches every row group's [min, max] term from the footers,
a read opens only the row groups whose range can hold one of its terms, and
``is_in`` filters what they hold. Left to pyarrow, an ``is_in`` filter
prunes nothing, and an OR of equalities costs one statistics check per
(term, row group) pair. A row group without term statistics is always read.
"""

from __future__ import annotations

import bisect

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq


class IndexFiles:
    """The listed parquet files of one artifact, with their schema."""

    def __init__(self, files: list[str], schema: pa.Schema):
        self.files = files
        self.schema = schema
        # [(file, footer, [(row group id, min term, max term)])], read once
        self._groups: list | None = None

    def _row_groups(self) -> list:
        if self._groups is None:
            groups = []
            for f in self.files:
                md = pq.read_metadata(f)
                col = md.schema.to_arrow_schema().get_field_index("term")
                ranges = []
                for i in range(md.num_row_groups):
                    st = md.row_group(i).column(col).statistics if col >= 0 else None
                    if st is not None and st.has_min_max:
                        ranges.append((i, st.min, st.max))
                    else:
                        ranges.append((i, None, None))
                groups.append((f, md, ranges))
            self._groups = groups
        return self._groups

    def read(self, columns: list[str], terms: list[str] | None = None,
             lo: str | None = None, hi: str | None = None) -> pa.Table:
        """``columns`` of the rows whose term is one of ``terms`` (any
        order), or lies in [lo, hi) (``hi`` None: unbounded), or — neither
        given — of every row."""
        want = sorted(set(terms)) if terms is not None else None
        schema = pa.schema([self.schema.field(c) for c in columns])
        parts = []
        for f, md, ranges in self._row_groups():
            ids = [i for i, mn, mx in ranges if mn is None or _overlaps(mn, mx, want, lo, hi)]
            if ids:
                with pq.ParquetFile(f, metadata=md) as pf:
                    t = pf.read_row_groups(ids, columns=columns, use_threads=False)
                parts.append(t.cast(schema))
        if not parts:
            return schema.empty_table()
        t = pa.concat_tables(parts) if len(parts) > 1 else parts[0]
        if want is not None:
            return t.filter(pc.is_in(t["term"], value_set=pa.array(want, pa.string())))
        if lo is not None:
            mask = pc.greater_equal(t["term"], lo)
            if hi is not None:
                mask = pc.and_(mask, pc.less(t["term"], hi))
            return t.filter(mask)
        return t


def _overlaps(mn: str, mx: str, terms: list[str] | None, lo: str | None, hi: str | None) -> bool:
    """Can a row group whose terms span [mn, mx] hold a wanted row?"""
    if terms is not None:
        j = bisect.bisect_left(terms, mn)
        return j < len(terms) and terms[j] <= mx
    if lo is not None:
        return mx >= lo and (hi is None or mn < hi)
    return True
