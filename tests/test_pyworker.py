"""The Python worker daemon (``pyworker``) and the session wiring for it.

Workers must import pyspark from its unpacked install when one of the zip's
version is on their path, and must fall back to Spark's daemon on an
untouched path otherwise: a zip of another version, no unpacked install, no
zip, or a session whose workers cannot import this package at all.
"""

from __future__ import annotations

import ast
import json
import os
import subprocess
import sys
import textwrap
import zipfile

import pandas as pd

from scalable_data_integration_with_llms_spark.pyworker import prefer_unpacked_pyspark
from scalable_data_integration_with_llms_spark.session import workers_import_package

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = os.path.join(REPO, "scalable_data_integration_with_llms_spark")
DAEMON_CONF = "spark.python.daemon.module"


def _layout(tmp_path, zip_version="4.1.2", unpacked_version="4.1.2"):
    """A fake worker path: ``lib/`` with the two Spark zips, ``site/`` with
    an unpacked pyspark (when ``unpacked_version`` is set)."""
    lib, site_dir = tmp_path / "lib", tmp_path / "site"
    lib.mkdir()
    site_dir.mkdir()
    archive = lib / "pyspark.zip"
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("pyspark/__init__.py", "")
        z.writestr("pyspark/version.py", f"__version__: str = '{zip_version}'\n")
    py4j = lib / "py4j-0.10.9.9-src.zip"
    with zipfile.ZipFile(py4j, "w") as z:
        z.writestr("py4j/__init__.py", "")
    if unpacked_version is not None:
        (site_dir / "pyspark").mkdir()
        (site_dir / "pyspark" / "__init__.py").write_text("")
        (site_dir / "pyspark" / "version.py").write_text(
            f"__version__: str = '{unpacked_version}'\n"
        )
    return str(archive), str(py4j), str(site_dir)


def _after(path):
    out = list(path)
    prefer_unpacked_pyspark(out)
    return out


def test_matching_install_moves_zips_behind_it_in_order(tmp_path):
    archive, py4j, site_dir = _layout(tmp_path)
    path = [str(tmp_path), py4j, archive, "/stdlib", site_dir, "/after"]
    assert _after(path) == [str(tmp_path), "/stdlib", site_dir, py4j, archive, "/after"]


def test_other_zip_version_leaves_path(tmp_path):
    archive, py4j, site_dir = _layout(tmp_path, zip_version="9.9.9")
    path = [str(tmp_path), archive, py4j, "/stdlib", site_dir]
    assert _after(path) == path


def test_no_unpacked_pyspark_leaves_path(tmp_path):
    archive, py4j, site_dir = _layout(tmp_path, unpacked_version=None)
    path = [str(tmp_path), archive, py4j, "/stdlib", site_dir]
    assert _after(path) == path


def test_no_pyspark_zip_leaves_path(tmp_path):
    _, py4j, site_dir = _layout(tmp_path)
    path = [str(tmp_path), py4j, "/stdlib", site_dir]
    assert _after(path) == path


def test_worker_path_check(tmp_path, monkeypatch):
    monkeypatch.delenv("PYTHONPATH", raising=False)
    monkeypatch.chdir(tmp_path)
    assert not workers_import_package("local[2]", [])
    assert workers_import_package("local[2]", [("spark.executorEnv.PYTHONPATH", REPO)])
    monkeypatch.setenv("PYTHONPATH", os.pathsep.join(["/elsewhere", REPO]))
    assert workers_import_package("local-cluster[2,1,1024]", [])
    monkeypatch.delenv("PYTHONPATH")
    monkeypatch.chdir(REPO)
    assert workers_import_package("local[2]", [])
    # a local-cluster executor runs in its own work directory
    assert not workers_import_package("local-cluster[2,1,1024]", [])


def test_worker_imports_unpacked_pyspark(spark):
    import pyspark

    def probe(batches):
        import pyspark as worker_pyspark

        for _ in batches:
            pass
        yield pd.DataFrame(
            {"file": [worker_pyspark.__file__], "version": [worker_pyspark.__version__]}
        )

    rows = spark.range(1).coalesce(1).mapInPandas(probe, "file string, version string").collect()
    assert len(rows) == 1
    assert ".zip" not in rows[0].file, rows[0].file
    assert rows[0].version == pyspark.__version__
    assert spark.sparkContext.getConf().get(DAEMON_CONF) is not None


def test_session_without_worker_path_keeps_sparks_daemon(tmp_path):
    script = tmp_path / "probe.py"
    script.write_text(
        textwrap.dedent(
            f"""
            import json
            import sys

            sys.path.insert(0, {REPO!r})
            from scalable_data_integration_with_llms_spark.session import get_spark


            def double(batches):
                for pdf in batches:
                    yield pdf.assign(y=pdf.x * 2)


            spark = get_spark("pyworker-fallback")
            try:
                conf = spark.sparkContext.getConf().get({DAEMON_CONF!r})
                df = spark.range(6).selectExpr("CAST(id AS INT) AS x")
                rows = sorted([r.x, r.y] for r in df.mapInPandas(double, "x int, y int").collect())
            finally:
                spark.stop()
            print(json.dumps({{"conf": conf, "rows": rows}}))
            """
        )
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH" and not k.startswith("SDI_")}
    env.update(SPARK_GRAFT_CPUS="2", SDI_DRIVER_MEM="1g")
    out = subprocess.run(
        [sys.executable, str(script)],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    got = json.loads(out.stdout.strip().splitlines()[-1])
    assert got == {"conf": None, "rows": [[i, 2 * i] for i in range(6)]}


def _package_sources():
    for root, _, files in os.walk(PKG):
        for f in sorted(files):
            if f.endswith(".py"):
                path = os.path.join(root, f)
                with open(path, encoding="utf-8") as fh:
                    yield os.path.relpath(path, PKG), fh.read()


def test_only_session_names_the_daemon_conf():
    offenders = [rel for rel, src in _package_sources() if DAEMON_CONF in src and rel != "session.py"]
    assert not offenders, f"only session.get_spark selects the worker daemon: {offenders}"


def _imported_modules(node):
    if isinstance(node, ast.Import):
        return [a.name for a in node.names]
    if isinstance(node, ast.ImportFrom):
        return [node.module or ""] + [f"{node.module}.{a.name}" for a in node.names]
    return []


def test_pyworker_imports_pyspark_only_after_the_path_fix():
    with open(os.path.join(PKG, "pyworker.py"), encoding="utf-8") as fh:
        tree = ast.parse(fh.read())
    pyspark_imports = [
        n
        for n in ast.walk(tree)
        if any(m == "pyspark" or m.startswith("pyspark.") for m in _imported_modules(n))
    ]
    (main,) = [
        n
        for n in tree.body
        if isinstance(n, ast.If) and ast.unparse(n.test) == "__name__ == '__main__'"
    ]
    assert len(pyspark_imports) == 1, "pyworker may import only pyspark.daemon"
    (imp,) = pyspark_imports
    assert isinstance(imp, ast.ImportFrom) and imp.module == "pyspark.daemon"
    body = [ast.unparse(s) for s in main.body]
    assert imp in main.body, "the pyspark.daemon import must sit under __main__"
    fix = body.index("prefer_unpacked_pyspark(sys.path)")
    assert fix < main.body.index(imp)


def test_no_package_module_imports_pyworker():
    offenders = [
        rel
        for rel, src in _package_sources()
        for node in ast.walk(ast.parse(src))
        if any("pyworker" in m for m in _imported_modules(node))
    ]
    assert not offenders, f"pyworker runs only as the worker daemon: {offenders}"
