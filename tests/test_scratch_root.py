"""Scratch files have one home: ``io.scoped_tmp_dir``.

Every key that writes files takes its directory from that helper, under
a root that belongs to one SparkSession and goes when the process exits.
The AST scan fails if a module under ``hh_rumors_presto_spark/`` other
than ``io.py`` calls ``gettempdir()`` or spells a ``"/tmp`` path;
``tempfile.TemporaryDirectory`` blocks stay allowed, since they clean up
after themselves.  The helper reads only ``spark.sparkContext.applicationId``,
so most checks run against a stub; one builds ``join_bucketed`` on two
fixtures that share a basename.
"""

from __future__ import annotations

import ast
import collections
import os
import pathlib
import subprocess
import sys
import tempfile
import types

from pyspark.sql import functions as F

from hh_rumors_presto_spark import io

PKG = pathlib.Path(__file__).resolve().parent.parent / "hh_rumors_presto_spark"
HELPER = PKG / "io.py"


def _hand_rolled_lines(path: pathlib.Path) -> list[int]:
    lines = []
    for node in ast.walk(ast.parse(path.read_text())):
        if isinstance(node, ast.Call):
            f = node.func
            name = f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", "")
            if name == "gettempdir":
                lines.append(node.lineno)
        elif (
            isinstance(node, ast.Constant)
            and isinstance(node.value, str)
            and node.value.startswith("/tmp")
        ):
            lines.append(node.lineno)
    return sorted(lines)


def _scoped_tags(path: pathlib.Path) -> list[str]:
    """The literal ``tag`` arguments of ``scoped_tmp_dir`` calls."""
    return [
        node.args[1].value
        for node in ast.walk(ast.parse(path.read_text()))
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == "scoped_tmp_dir"
        and len(node.args) > 1
        and isinstance(node.args[1], ast.Constant)
    ]


def _stub(app_id: str):
    return types.SimpleNamespace(
        sparkContext=types.SimpleNamespace(applicationId=app_id)
    )


def test_no_hand_rolled_temp_paths():
    offenders = [
        f"{path.relative_to(PKG)}:{line}"
        for path in sorted(PKG.rglob("*.py"))
        if path != HELPER
        for line in _hand_rolled_lines(path)
    ]
    assert not offenders, offenders


def test_scan_sees_calls_and_literals(tmp_path):
    src = tmp_path / "m.py"
    src.write_text(
        "d = os.path.join(tempfile.gettempdir(), 'x')\n"
        "e = gettempdir()\n"
        "f = '/tmp/hh_x'\n"
        "with tempfile.TemporaryDirectory(prefix='hh_') as g:\n"
        "    pass\n"
    )
    assert _hand_rolled_lines(src) == [1, 2, 3]


def test_tags_are_unique():
    """Two keys with one tag would share a directory within a session."""
    counts = collections.Counter(
        tag for path in sorted(PKG.rglob("*.py")) for tag in _scoped_tags(path)
    )
    assert counts and not [t for t, n in counts.items() if n > 1], counts


def test_roots_are_per_session_and_follow_tempdir(tmp_path, monkeypatch):
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    a = io.scoped_tmp_dir(_stub("local-1"), "t", "/data/sf0.001/")
    b = io.scoped_tmp_dir(_stub("local-2"), "t", "/data/sf0.001")
    root_a, root_b = os.path.dirname(a), os.path.dirname(b)
    assert root_a == str(tmp_path / "hh_local-1")
    assert root_b == str(tmp_path / "hh_local-2")
    assert os.path.basename(a) == os.path.basename(b)
    assert os.path.basename(a).startswith("t_sf0.001_")
    # the root exists; the key's own directory is left to the caller
    assert os.path.isdir(root_a) and not os.path.exists(a)


def test_same_basename_fixtures_get_their_own_dirs(tmp_path, monkeypatch):
    """Within one session a fixture's scratch dir follows its real path,
    not its basename: a second ``sfx`` must not reuse the first's data."""
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path / "tmp"))
    first, second = tmp_path / "a" / "sfx", tmp_path / "b" / "sfx"
    first.mkdir(parents=True)
    second.mkdir(parents=True)
    (tmp_path / "link").symlink_to(first)
    spark = _stub("local-1")
    a = io.scoped_tmp_dir(spark, "t", str(first))
    assert a != io.scoped_tmp_dir(spark, "t", str(second))
    assert a == io.scoped_tmp_dir(spark, "t", f"{first}/")
    assert a == io.scoped_tmp_dir(spark, "t", str(tmp_path / "link"))
    assert os.path.basename(a).startswith("t_sfx_")


def test_join_bucketed_reads_each_same_basename_fixture(spark, sf_dir, tmp_path):
    """join_bucketed keeps its bucketed copies as catalog tables for the
    session; two fixtures named ``sfx`` with different lineitem rows must
    each join their own rows."""
    import pyarrow.parquet as pq

    from hh_rumors_presto_spark.registry import QUERIES, load_all_queries

    load_all_queries()
    lineitem = pq.read_table(io.table_path(sf_dir, "lineitem"))
    for parent, rows in (("a", lineitem.num_rows), ("b", 100)):
        d = tmp_path / parent / "sfx"
        d.mkdir(parents=True)
        pq.write_table(lineitem.slice(0, rows), str(d / "lineitem.parquet"))
        (d / "orders.parquet").symlink_to(io.table_path(sf_dir, "orders"))
        df = QUERIES["join_bucketed"](spark, str(d))
        joined = io.load_table(spark, str(d), "lineitem").join(
            io.load_table(spark, str(d), "orders"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        assert df.agg(F.sum("n_lines")).first()[0] == joined.count(), parent


def test_root_is_removed_at_exit(tmp_path):
    child = """
import os
import types
from hh_rumors_presto_spark import io
spark = types.SimpleNamespace(
    sparkContext=types.SimpleNamespace(applicationId="local-exit")
)
d = io.scoped_tmp_dir(spark, "t", "/data/sf0.001")
os.makedirs(d)
with open(os.path.join(d, "part-0"), "w") as fh:
    fh.write("x")
print(d)
"""
    env = dict(os.environ, TMPDIR=str(tmp_path))
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(PKG.parent), env.get("PYTHONPATH")) if p
    )
    out = subprocess.run(
        [sys.executable, "-c", child],
        env=env,
        capture_output=True,
        text=True,
        timeout=120,
        check=True,
    )
    written = out.stdout.strip()
    assert written.startswith(str(tmp_path / "hh_local-exit"))
    assert not (tmp_path / "hh_local-exit").exists()
