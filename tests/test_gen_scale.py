"""Row-group layout checks of the scale fixtures (tools/gen_scale.py).

A scale directory written before ``ROW_GROUP_OVERRIDE`` keeps duckdb's
~123k-row groups, which cap every documents/embeddings scan at a few
tasks.  gen_scale regenerates such a directory and scale_probe refuses
to measure it, as gen_zipf.ensure() does for the zipf corpus.

No SparkSession needed.
"""

import importlib.util
import os
import sys

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

TOOLS = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools")


def _load(name):
    if TOOLS not in sys.path:
        sys.path.insert(0, TOOLS)  # scale_probe imports gen_scale
    spec = importlib.util.spec_from_file_location(name, os.path.join(TOOLS, f"{name}.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _write(path, rows, row_group_size):
    pq.write_table(pa.table({"doc_id": list(range(rows))}), path, row_group_size=row_group_size)


def test_stale_layouts_flags_only_oversized_first_groups(tmp_path):
    gs = _load("gen_scale")
    docs_limit = gs.ROW_GROUP_OVERRIDE["documents"]
    assert gs.stale_layouts(str(tmp_path)) == {}  # absent tables are not stale
    _write(tmp_path / "documents.parquet", 20_000, 20_000)
    _write(tmp_path / "embeddings.parquet", 20_000, gs.ROW_GROUP_OVERRIDE["embeddings"])
    assert gs.stale_layouts(str(tmp_path)) == {"documents": 20_000}
    # duckdb's overshoot of one vector past the requested size is fresh
    _write(tmp_path / "documents.parquet", 20_000, docs_limit + gs.DUCKDB_VECTOR_ROWS)
    assert gs.stale_layouts(str(tmp_path)) == {}


def _tiny_src(src):
    con = duckdb.connect()
    cols = {
        "lineitem": "range as l_orderkey, range as l_partkey, range as l_suppkey",
        "orders": "range as o_orderkey, range as o_custkey",
        "customer": "range as c_custkey",
        "supplier": "range as s_suppkey",
        "part": "range as p_partkey",
        "events": "range as event_id, range as user_id",
        "documents": "range as doc_id, 'w' || range as text",
        "embeddings": "range as vec_id",
        "nation": "range as n_nationkey",
        "region": "range as r_regionkey",
    }
    for table, sel in cols.items():
        n = 5_000 if table == "documents" else 10
        con.execute(f"copy (select {sel} from range({n})) to '{src}/{table}.parquet' (format parquet)")


def test_gen_scale_regenerates_a_stale_directory(tmp_path, capsys):
    gs = _load("gen_scale")
    src, dst = tmp_path / "src", tmp_path / "dst"
    src.mkdir()
    dst.mkdir()
    _tiny_src(src)
    _write(dst / "documents.parquet", 10_000, 10_000)
    assert gs.stale_layouts(str(dst)) == {"documents": 10_000}
    gs.main(["--src", str(src), "--dst", str(dst), "--k", "2"])
    assert "regenerating" in capsys.readouterr().err
    assert gs.stale_layouts(str(dst)) == {}
    assert pq.ParquetFile(dst / "documents.parquet").metadata.num_rows == 10_000


def test_scale_probe_refuses_a_stale_big_dir(tmp_path, capsys):
    sp = _load("scale_probe")
    _write(tmp_path / "documents.parquet", 20_000, 20_000)
    assert sp.main(["--big", str(tmp_path)]) == 2
    assert "regenerate" in capsys.readouterr().err
