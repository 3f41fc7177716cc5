from __future__ import annotations

import os

import pytest

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from miru_spark.session import get_spark

    s = get_spark("miru_spark_tests", master="local[4]", shuffle_partitions=4)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def documents(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


@pytest.fixture(scope="session")
def doc_index(documents):
    from miru_spark.operators.build import build_index

    # capacity 128 → multiple partitions even on the 500-row fixture, so the
    # fixture's common terms have one posting list per part (the default
    # 'sort' route; test_salting_plans asserts how they spread).
    return build_index(documents, text_col="text", dense_id_col="doc_id", capacity=128)


@pytest.fixture(scope="session")
def loaded_index(spark, documents, tmp_path_factory):
    """The fixture corpus persisted (capacity 128, as doc_index) and loaded
    back: a lazy handle, whose flat top_k scores in the packed-postings
    Arrow kernel instead of the DataFrame fold doc_index uses."""
    from miru_spark.index_store import build_persistent, load_index

    d = str(tmp_path_factory.mktemp("loaded") / "idx")
    build_persistent(
        documents, d, text_col="text", dense_id_col="doc_id",
        capacity=128, wave_size=16,
    )
    return load_index(spark, d)


@pytest.fixture(scope="session")
def duck(sf_dir):
    import duckdb

    con = duckdb.connect()
    for t in ["documents", "events", "embeddings", "orders", "lineitem", "customer"]:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


@pytest.fixture(scope="session")
def check_wave_artifacts(spark):
    """check(index_dir, waves): for each listed wave of a persisted index,
    forward/ holds exactly the decoded segments/ rows (as multisets), and
    every doclens/ dl is that wave's Σtf per doc (0 for a doc with no
    postings). Returns the number of doclens rows checked."""
    from collections import Counter

    from miru_spark.operators.build import unpack_postings

    cols = ["part", "doc_id", "term", "tf"]

    def check(index_dir: str, waves: list[int]) -> int:
        n_lens = 0
        for k in waves:
            seg = Counter(
                tuple(r)
                for r in unpack_postings(
                    spark.read.parquet(f"{index_dir}/segments/wave={k}")
                ).select(*cols).collect()
            )
            fwd = Counter(
                tuple(r)
                for r in spark.read.parquet(f"{index_dir}/forward/wave={k}")
                .select(*cols)
                .collect()
            )
            assert fwd == seg, f"wave {k}: forward rows differ from segments"
            sum_tf = Counter()
            for (part, doc_id, _, tf), n in seg.items():
                sum_tf[(part, doc_id)] += tf * n
            lens = {
                (r["part"], r["doc_id"]): r["dl"]
                for r in spark.read.parquet(f"{index_dir}/doclens/wave={k}").collect()
            }
            assert set(sum_tf) <= set(lens), f"wave {k}: posted docs missing from doclens"
            assert lens == {d: sum_tf.get(d, 0) for d in lens}, f"wave {k}: dl != Σtf"
            n_lens += len(lens)
        return n_lens

    return check


@pytest.fixture(scope="session")
def check_term_ranges():
    """check(parquet_dir): the merged term-range layout — each file's rows
    are sorted by term, and the files' [min, max] term ranges (from the
    footer statistics) ascend in file order. Returns the number of
    non-empty files checked."""
    import glob

    import pyarrow.parquet as pq

    def check(parquet_dir: str) -> int:
        ranges = []
        for f in sorted(glob.glob(f"{parquet_dir}/part-*.parquet")):
            meta = pq.ParquetFile(f).metadata
            if meta.num_rows == 0:
                continue
            col = meta.schema.to_arrow_schema().get_field_index("term")
            stats = [meta.row_group(i).column(col).statistics for i in range(meta.num_row_groups)]
            ranges.append((f, min(s.min for s in stats), max(s.max for s in stats)))
            terms = pq.read_table(f, columns=["term"]).column("term").to_pylist()
            assert terms == sorted(terms), f"{f}: rows not sorted by term"
        for (f0, _, hi), (f1, lo, _) in zip(ranges, ranges[1:]):
            assert hi <= lo, f"{f0} ends at {hi!r} after {f1} starts at {lo!r}"
        return len(ranges)

    return check


@pytest.fixture(scope="session")
def spark_jobs(spark):
    """jobs(fn) -> (fn(), the number of Spark jobs fn started), counted by
    the status tracker under a job group of fn's own."""
    import itertools

    sc = spark.sparkContext
    seq = itertools.count()

    def jobs(fn):
        group = f"spark_jobs_{next(seq)}"
        sc.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            for prop in ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel"):
                sc.setLocalProperty(prop, None)
        return out, len(sc.statusTracker().getJobIdsForGroup(group))

    return jobs
