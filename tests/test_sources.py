"""S1-S11 sources/sinks: CSV centroid roundtrip, JSON dump, upsert sink."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from vector_search_optimization_spark import schemas
from vector_search_optimization_spark.sources import (
    read_centroids_csv,
    read_chunks,
    write_csv,
    write_upsert,
)
from vector_search_optimization_spark.sources.readers import read_excel
from vector_search_optimization_spark.sources.writers import write_excel


def test_centroids_csv_roundtrip(spark, tmp_path):
    """S1/S8 + F6: centroid table with '[f, f, ...]' vector strings."""
    path = str(tmp_path / "centroids_csv")
    cents = spark.createDataFrame(
        [(0, [0.5, -1.25], "Etiqueta 0"), (1, [2.0, 3.5], "Etiqueta 1")],
        schemas.CENTROIDS,
    )
    write_csv(cents, path)
    back = read_centroids_csv(spark, path)
    rows = {r.cluster_label: r for r in back.collect()}
    assert rows[0].centroid == pytest.approx([0.5, -1.25])
    assert rows[1].centroid == pytest.approx([2.0, 3.5])
    assert rows[1].etiqueta == "Etiqueta 1"


def test_read_chunks_pinned_schema(spark, tmp_path):
    path = str(tmp_path / "chunks_parquet")
    df = spark.createDataFrame(
        [("c1", "d1", "d1/c0", "text", "pdf", "document",
          [0.1, 0.2], "/p", "n", None, None, None, 3)],
        schemas.CHUNKS,
    )
    df.write.parquet(path)
    back = read_chunks(spark, path)
    # same names+types (nullability is storage-dependent after a roundtrip)
    assert [(f.name, f.dataType) for f in back.schema.fields] == [
        (f.name, f.dataType) for f in schemas.CHUNKS.fields
    ]
    assert back.count() == 1


def test_write_upsert_sink(spark, tmp_path):
    """S11 — keyed partial update with atomic base rewrite."""
    base_path = str(tmp_path / "base_tbl")
    base = spark.createDataFrame(
        [(1, "x"), (2, "y"), (3, "z")], "id int, lab string"
    )
    base.write.parquet(base_path)
    updates = spark.createDataFrame([(2, "NEW")], "id int, lab string")
    write_upsert(base_path, updates, "id")
    after = {r.id: r.lab for r in spark.read.parquet(base_path).collect()}
    assert after == {1: "x", 2: "NEW", 3: "z"}
    # idempotent second run (no-op updates)
    write_upsert(base_path, updates, "id")
    again = {r.id: r.lab for r in spark.read.parquet(base_path).collect()}
    assert again == after


def test_write_json_roundtrip(spark, tmp_path):
    """S10 — JSON sink (json.dump, nuevo-kmeans-pre.ipynb:136 c9)."""
    from vector_search_optimization_spark.sources import write_json

    path = str(tmp_path / "json_sink")
    df = spark.createDataFrame(
        [(1, "a", [0.5, 1.5]), (2, "b", None)],
        "id int, s string, v array<float>",
    )
    write_json(df, path)
    back = spark.read.json(path)
    rows = {r.id: r for r in back.collect()}
    assert rows[1].s == "a" and rows[1].v == [0.5, 1.5]
    assert "v" not in rows[2].asDict() or rows[2].v is None


def test_xlsx_datasource_format_scan(spark, tmp_path):
    """spark.read.format("xlsx"): schema inferred on the driver, files
    parsed as executor-side partitions (one per workbook), directory
    scans union all files."""
    from vector_search_optimization_spark.sources.xlsx import write_xlsx
    from vector_search_optimization_spark.sources.xlsx_datasource import (
        register_xlsx_source,
    )

    write_xlsx(str(tmp_path / "a.xlsx"), ["k", "v"], [["x", 1], ["y", 2]])
    write_xlsx(str(tmp_path / "b.xlsx"), ["k", "v"], [["z", 3]])
    register_xlsx_source(spark)

    one = spark.read.format("xlsx").load(str(tmp_path / "a.xlsx"))
    assert one.schema.simpleString() == "struct<k:string,v:bigint>"
    assert {(r.k, r.v) for r in one.collect()} == {("x", 1), ("y", 2)}

    alldf = spark.read.format("xlsx").load(str(tmp_path))
    assert alldf.rdd.getNumPartitions() == 2  # one partition per workbook
    assert {(r.k, r.v) for r in alldf.collect()} == {("x", 1), ("y", 2), ("z", 3)}
    # predicate + projection still work through the python scan
    assert alldf.where(F.col("v") > 1).count() == 2


def test_xlsx_datasource_mixed_type_directory(spark, tmp_path):
    """Files whose own cells would infer different types must coerce to
    the PLANNED schema (inferred from the first file), not their own —
    file b's integer cell lands as double under a double plan, and its
    numeric string under a string plan."""
    from vector_search_optimization_spark.sources.xlsx import write_xlsx
    from vector_search_optimization_spark.sources.xlsx_datasource import (
        register_xlsx_source,
    )

    # first file plans: x double, s string
    write_xlsx(str(tmp_path / "a.xlsx"), ["x", "s"], [[1.5, "t"]])
    # second file would self-infer: x long, s long
    write_xlsx(str(tmp_path / "b.xlsx"), ["x", "s"], [[2, 7]])
    register_xlsx_source(spark)

    df = spark.read.format("xlsx").load(str(tmp_path))
    assert df.schema.simpleString() == "struct<x:double,s:string>"
    got = {(r.x, r.s) for r in df.collect()}
    assert got == {(1.5, "t"), (2.0, "7")}


def test_excel_roundtrip(spark, tmp_path):
    """S9 → S6: stdlib xlsx sink then scan preserves values and types,
    including the vector→string serialization shared with the CSV sink."""
    df = spark.createDataFrame(
        [
            (1, "hello <world> & \"co\"", 2.5, True, [0.5, 1.5]),
            (2, "café", -3.0, False, [1.0, 2.0]),
            (3, None, None, None, None),
        ],
        "id long, s string, x double, b boolean, v array<float>",
    )
    path = str(tmp_path / "report.xlsx")
    write_excel(df, path)
    back = read_excel(spark, path)
    assert back.columns == ["id", "s", "x", "b", "v"]
    assert dict(back.dtypes) == {
        "id": "bigint", "s": "string", "x": "double", "b": "boolean", "v": "string",
    }
    rows = {r.id: r for r in back.collect()}
    assert rows[1].s == 'hello <world> & "co"' and rows[1].x == 2.5 and rows[1].b is True
    assert rows[1].v == "[0.5, 1.5]"
    assert rows[2].s == "café"
    assert rows[3].s is None and rows[3].x is None and rows[3].b is None


def test_excel_sheet_selection_and_shared_strings(spark, tmp_path):
    """Sheet-by-name resolution plus the sharedStrings path (what real
    Excel/openpyxl emit) parse through the same reader."""
    from vector_search_optimization_spark.sources import xlsx

    path = str(tmp_path / "manual.xlsx")
    xlsx.write_xlsx(path, ["k", "val"], [["a", 1], ["b", 2]], sheet_name="metrics")
    header, rows = xlsx.read_xlsx(path, "metrics")
    assert header == ["k", "val"] and rows == [["a", 1], ["b", 2]]

    # hand-build a workbook that uses sharedStrings (reader-only path)
    import zipfile

    shared_path = str(tmp_path / "shared.xlsx")
    with zipfile.ZipFile(path) as src, zipfile.ZipFile(shared_path, "w") as dst:
        for name in src.namelist():
            if name != "xl/worksheets/sheet1.xml":
                dst.writestr(name, src.read(name))
        dst.writestr(
            "xl/sharedStrings.xml",
            '<?xml version="1.0"?><sst xmlns="http://schemas.openxmlformats.org/'
            'spreadsheetml/2006/main"><si><t>k</t></si><si><t>shared!</t></si></sst>',
        )
        dst.writestr(
            "xl/worksheets/sheet1.xml",
            '<?xml version="1.0"?><worksheet xmlns="http://schemas.openxmlformats.org/'
            'spreadsheetml/2006/main"><sheetData>'
            '<row r="1"><c r="A1" t="s"><v>0</v></c></row>'
            '<row r="2"><c r="A2" t="s"><v>1</v></c></row>'
            "</sheetData></worksheet>",
        )
    header2, rows2 = xlsx.read_xlsx(shared_path)
    assert header2 == ["k"] and rows2 == [["shared!"]]


def test_load_table_reads_nanos_encoded_events_exactly(spark, tmp_path):
    """The NANOS footer variant (round-1 encoding; testdata regenerates
    between rounds) must convert ns→µs by EXACT integer floor — the
    double-division path is off by 1µs for ~12% of arbitrary ns values,
    which would hash-mismatch DuckDB's exact truncation."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    import datetime as dt

    # include values known to diverge through float(ns)/1000
    ns_vals = [
        1788088685978497970,   # floor .497, double path .498
        1766230646241134991,
        1786698970099899833,
        1787000000000000000,   # exact on both paths
    ]
    tbl = pa.table(
        {
            "event_id": pa.array(range(len(ns_vals)), pa.int64()),
            "ts": pa.array(ns_vals, pa.timestamp("ns")),
            "event_type": pa.array(["click"] * len(ns_vals)),
            "value": pa.array([1.0] * len(ns_vals)),
        }
    )
    sf_dir = str(tmp_path)
    pq.write_table(tbl, f"{sf_dir}/events.parquet")

    from vector_search_optimization_spark.sources.readers import load_table

    got = {
        r.event_id: r.ts
        for r in load_table(spark, sf_dir, "events").collect()
    }
    for i, ns in enumerate(ns_vals):
        want = dt.datetime.fromtimestamp(
            (ns // 1000) / 1_000_000, tz=dt.timezone.utc
        ).replace(tzinfo=None)
        micro_want = ns // 1000
        got_micro = int(
            got[i].replace(tzinfo=dt.timezone.utc).timestamp() * 1_000_000
        )
        assert got_micro == micro_want, (i, ns, got[i])


def test_write_upsert_recovers_from_crashed_commit_leftovers(spark, tmp_path):
    """A previous crashed commit can leave a .__old__ directory behind;
    the next upsert must clear it and still commit cleanly, and the base
    table must exist (with either old or new content) at every point an
    external reader could observe between upserts."""
    import os

    base_path = str(tmp_path / "tbl")
    spark.createDataFrame(
        [(1, "a"), (2, "b")], "id long, val string"
    ).write.parquet(base_path)
    # simulate the crash artifact
    os.makedirs(base_path + ".__old__", exist_ok=True)
    with open(base_path + ".__old__/junk", "w") as f:
        f.write("leftover")

    updates = spark.createDataFrame([(2, "B")], "id long, val string")
    write_upsert(base_path, updates, "id")
    got = {r.id: r.val for r in spark.read.parquet(base_path).collect()}
    assert got == {1: "a", 2: "B"}
    assert not os.path.exists(base_path + ".__old__")   # cleaned up
    assert not os.path.exists(base_path + ".__staging__")


def test_read_centroids_csv_rejects_wrong_header(spark, tmp_path):
    """With an explicit schema Spark maps CSV columns positionally; a
    reordered/missing header must fail loudly instead of silently
    loading swapped or null centroids."""
    import pytest as _pytest

    bad = tmp_path / "centroids.csv"
    bad.write_text('centroid,cluster_label,etiqueta\n"[1.0, 2.0]",0,x\n')
    with _pytest.raises(ValueError, match="header"):
        read_centroids_csv(spark, str(bad))


def test_roundtrip_path_follows_the_temp_dir(monkeypatch, tmp_path):
    """The s*_roundtrip scratch files live under the temp dir (TMPDIR),
    so two runs with separate temp dirs never share files."""
    import tempfile

    import __spark_entry__ as m

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    got = m._roundtrip_path("/data/sf0.01/", "csv_embeddings")
    assert got == str(tmp_path / "spark_graft_roundtrip" / "sf0.01" / "csv_embeddings")
    assert os.path.isdir(os.path.dirname(got))
