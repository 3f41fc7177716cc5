"""Local-mode Python workers: they import the installed pyspark through the
``miru_local_daemon`` daemon module, and still see files added mid-session."""

from __future__ import annotations

import importlib.util
import os
import uuid
import zipfile

from miru_spark.session import DAEMON_DIR


def _daemon():
    spec = importlib.util.spec_from_file_location(
        "miru_local_daemon", os.path.join(DAEMON_DIR, "miru_local_daemon.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_local_workers_import_installed_pyspark(spark):
    def probe(_):
        import pyspark

        yield pyspark.__file__

    files = spark.sparkContext.parallelize(range(2), 2).mapPartitions(probe).collect()
    assert len(files) == 2
    for f in files:
        assert not any(p.endswith(".zip") for p in f.split(os.sep)), f


def test_py_file_added_after_start_imports_in_worker(spark, tmp_path):
    name = f"miru_probe_{uuid.uuid4().hex}"
    path = tmp_path / f"{name}.py"
    path.write_text("VALUE = 42\n")
    spark.sparkContext.addPyFile(str(path))

    def probe(_):
        yield importlib.import_module(name).VALUE

    assert spark.sparkContext.parallelize(range(2), 2).mapPartitions(probe).collect() == [
        42,
        42,
    ]


def _layout(tmp_path, zip_version, installed_version):
    """A Spark home (pyspark and py4j zips, spark-core jar) and a site dir
    holding py4j and, unless ``installed_version`` is None, a pyspark."""
    lib = tmp_path / "spark" / "python" / "lib"
    lib.mkdir(parents=True)
    spark_zip = lib / "pyspark.zip"
    with zipfile.ZipFile(spark_zip, "w") as zf:
        zf.writestr("pyspark/__init__.py", "")
        zf.writestr("pyspark/version.py", f"__version__: str = '{zip_version}'\n")
    py4j_zip = lib / "py4j-0.10.9.9-src.zip"
    with zipfile.ZipFile(py4j_zip, "w") as zf:
        zf.writestr("py4j/__init__.py", "")
    jars = tmp_path / "spark" / "jars"
    jars.mkdir()
    jar = jars / "spark-core_2.13.jar"
    jar.write_bytes(b"")
    site = tmp_path / "site"
    (site / "py4j").mkdir(parents=True)
    (site / "py4j" / "__init__.py").write_text("")
    if installed_version is not None:
        (site / "pyspark").mkdir()
        (site / "pyspark" / "__init__.py").write_text("")
        (site / "pyspark" / "version.py").write_text(
            f"__version__: str = '{installed_version}'\n"
        )
    return [str(tmp_path / "work"), str(spark_zip), str(py4j_zip), str(jar), str(site)]


def test_daemon_drops_spark_archives_only_for_a_matching_installed_pyspark(tmp_path):
    d = _daemon()
    path = _layout(tmp_path / "match", "4.1.2", "4.1.2")
    assert d.worker_path(path) == [path[0], path[4]]
    mismatch = _layout(tmp_path / "mismatch", "4.1.2", "4.0.0")
    assert d.worker_path(mismatch) == mismatch
    missing = _layout(tmp_path / "missing", "4.1.2", None)
    assert d.worker_path(missing) == missing
    no_zip = [p for p in path if not p.endswith("pyspark.zip")]
    assert d.worker_path(no_zip) == no_zip
