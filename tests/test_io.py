"""IO loaders: provenance, ID injection, formats."""

import os

import pytest
from pyspark.sql import functions as F

from pydi_spark.core.dataset import Dataset
from pydi_spark.core.ids import add_id_column
from pydi_spark.io import explode_delimited, load_csv, load_fwf, load_json, load_parquet, load_xml


def test_load_parquet_with_provenance(spark, sf_dir):
    ds = load_parquet(spark, f"{sf_dir}/customer.parquet", "customer", trust_score=0.8)
    assert ds.name == "customer"
    assert ds.trust_score == 0.8
    assert ds.provenance["reader"] == "parquet"
    assert ds.provenance["source_path"].endswith("customer.parquet")
    assert ds.df.count() == 150


def test_id_injection_format(spark, sf_dir):
    ds = load_parquet(
        spark, f"{sf_dir}/region.parquet", "region", add_index=True, id_prefix="reg"
    )
    ids = sorted(r[ds.id_column] for r in ds.df.select(ds.id_column).collect())
    assert ids == [f"reg-{i:04d}" for i in range(5)]
    assert ds.schema_columns() == ["r_regionkey", "r_name"]


def test_add_id_column_deterministic(spark):
    df = spark.createDataFrame([("b",), ("a",), ("c",)], "x string")
    out, col = add_id_column(df, "t", order_by=["x"])
    got = {r["x"]: r[col] for r in out.collect()}
    assert got == {"a": "t-0000", "b": "t-0001", "c": "t-0002"}


def test_add_id_column_pad_widens(spark):
    # reference semantics (io/loaders.py:127-176): padding widens to
    # digits(row_count-1) above 9,999 rows, so ids keep the
    # stable-string-sort property ('t-09999' < 't-10000')
    df = spark.range(10_001).select(F.col("id").alias("x"))
    out, col = add_id_column(df, "t", order_by=["x"])
    ids = [r[col] for r in out.orderBy("x").collect()]
    assert ids[0] == "t-00000" and ids[-1] == "t-10000"
    assert sorted(ids) == ids  # string sort == numeric sort
    # explicit pad still honored
    out4, col4 = add_id_column(
        spark.createDataFrame([("a",)], "x string"), "u", order_by=["x"], pad=6
    )
    assert out4.first()[col4] == "u-000000"


def test_load_csv_json_fwf(spark, tmp_path):
    csv = tmp_path / "t.csv"
    csv.write_text("a,b\n1,x\n2,y\n")
    ds = load_csv(spark, str(csv), "t")
    assert ds.df.count() == 2 and set(ds.df.columns) == {"a", "b"}

    js = tmp_path / "t.json"
    js.write_text('[{"a": 1, "tags": ["p", "q"]}, {"a": 2, "tags": []}]')
    dj = load_json(spark, str(js), "tj")
    row = dj.df.orderBy("a").collect()[0]
    assert list(row["tags"]) == ["p", "q"]  # list cells native

    fw = tmp_path / "t.fwf"
    fw.write_text("alpha  12\nbeta   34\n")
    dw = load_fwf(spark, str(fw), "tw", colspecs=[(0, 7), (7, 9)], columns=["name", "n"])
    rows = {r["name"]: r["n"] for r in dw.df.collect()}
    assert rows == {"alpha": "12", "beta": "34"}


def test_load_xml_aggregate_and_explode(spark, tmp_path):
    xml = tmp_path / "movies.xml"
    xml.write_text(
        """<movies>
  <movie><title>Heat</title><actors><actor><name>Al</name></actor>
    <actor><name>Bob</name></actor></actors><year>1995</year></movie>
  <movie><title>Solo</title><actors><actor><name>Cy</name></actor></actors>
    <year>2000</year></movie>
</movies>"""
    )
    ds = load_xml(spark, str(xml), "movies", nested_handling="aggregate")
    rows = {r["title"]: r for r in ds.df.collect()}
    assert sorted(rows) == ["Heat", "Solo"]
    heat = rows["Heat"]
    names = [c for c in ds.df.columns if "name" in c]
    assert names, ds.df.columns
    assert sorted(heat[names[0]]) == ["Al", "Bob"]

    exploded = load_xml(spark, str(xml), "movies", nested_handling="explode")
    assert exploded.df.count() == 3  # Heat x2 actors + Solo x1


def test_explode_delimited(spark):
    df = spark.createDataFrame([("a, b and c",)], "x string")
    out = [r["x"] for r in explode_delimited(df, "x").collect()]
    assert out == ["a", "b", "c"]


def test_provenance_append(spark):
    df = spark.createDataFrame([(1,)], "a int")
    ds = Dataset.wrap(df, "t").with_provenance("normalize", cols=["a"])
    assert ds.provenance["operations"][0]["op"] == "normalize"


def test_orc_roundtrip(spark, tmp_path):
    from pydi_spark.io import load_orc, write_orc

    df = spark.createDataFrame(
        [(1, "a", 1.5), (2, "b", None)], "k long, s string, v double"
    )
    write_orc(df, str(tmp_path / "t"))
    back = load_orc(spark, str(tmp_path / "t"), "t")
    assert back.df.schema == df.schema
    assert sorted(map(tuple, back.df.collect())) == sorted(map(tuple, df.collect()))
    assert back.provenance["reader"] == "orc"


def test_apply_changes_semantics(spark):
    from pydi_spark.io import apply_changes

    base = spark.createDataFrame(
        [("k1", "a"), ("k2", "b"), ("k3", "c")], "id string, v string"
    )
    changes = spark.createDataFrame(
        [
            ("k1", "a2", 1, "U"),      # update
            ("k1", "a3", 2, "U"),      # later update wins
            ("k2", "b", 1, "D"),       # delete
            ("k4", "d", 1, "I"),       # insert
            ("k5", "e", 1, "I"),       # insert then delete -> gone
            ("k5", "e", 2, "D"),
        ],
        "id string, v string, version long, op string",
    )
    out = {r["id"]: r["v"] for r in
           apply_changes(base, changes, key_col="id").collect()}
    assert out == {"k1": "a3", "k3": "c", "k4": "d"}
    # partition independence
    out2 = {r["id"]: r["v"] for r in
            apply_changes(base.repartition(3), changes.repartition(5),
                          key_col="id").collect()}
    assert out == out2


def test_write_training_shards(spark, tmp_path):
    from pydi_spark.io import write_training_shards

    df = spark.createDataFrame(
        [(i, f"doc {i}", i % 17) for i in range(200)],
        "doc_id long, text string, pos int",
    )
    path = str(tmp_path / "shards")
    write_training_shards(df, path, n_shards=4, key_col="doc_id",
                          order_col="pos")
    back = spark.read.parquet(path)
    assert back.count() == 200
    shards = {r["shard"] for r in back.select("shard").distinct().collect()}
    assert shards <= {0, 1, 2, 3} and len(shards) == 4
    # assignment is stable across input partitionings
    path2 = str(tmp_path / "shards2")
    write_training_shards(df.repartition(13), path2, n_shards=4,
                          key_col="doc_id", order_col="pos")
    a = sorted(map(tuple, spark.read.parquet(path).collect()))
    b = sorted(map(tuple, spark.read.parquet(path2).collect()))
    assert a == b


def test_load_excel_roundtrip_fanout(spark, tmp_path):
    """xlsx write->load through the stdlib codec (openpyxl absent here,
    so load_excel exercises its fallback path); multi-sheet fan-out
    names follow the reference's {base}_{sheet} rule."""
    from pydi_spark.io import load_excel, write_excel

    a = spark.createDataFrame([(1, "x"), (2, "y")], "k int, v string")
    b = spark.createDataFrame([(3.5, "emoji & <tags>")], "m double, t string")
    path = str(tmp_path / "book.xlsx")
    write_excel({"alpha": a, "beta": b}, path)
    out = load_excel(spark, path, "book")
    assert set(out) == {"book_alpha", "book_beta"}
    got = {tuple(r) for r in out["book_alpha"].df.collect()}
    assert got == {(1, "x"), (2, "y")}
    row = out["book_beta"].df.collect()[0]
    assert row["m"] == 3.5 and row["t"] == "emoji & <tags>"
    # single-sheet selection keeps the bare name
    only = load_excel(spark, path, "book", sheet_name="alpha")
    assert set(only) == {"book"}


def test_load_html_roundtrip_fanout(spark, tmp_path):
    from pydi_spark.io import load_html, write_html_page

    a = spark.createDataFrame([(1, "x"), (2, "y")], "k int, v string")
    b = spark.createDataFrame([(9, "z")], "p int, q string")
    path = str(tmp_path / "page.html")
    write_html_page({"first": a, "second": b}, path)
    out = load_html(spark, path, "page")
    assert set(out) == {"page_0", "page_1"}
    got = {tuple(r) for r in out["page_0"].df.collect()}
    assert got == {(1, "x"), (2, "y")}
    assert out["page_1"].df.collect()[0]["q"] == "z"


def test_load_pickle_requires_opt_in(spark, tmp_path):
    """load_pickle (reference io/loaders.py:954-984): refuses without
    allow_unsafe=True (unpickling executes code), round-trips a
    self-produced pandas pickle when opted in."""
    import pandas as pd
    import pytest as _pytest

    from pydi_spark.io import load_pickle

    p = str(tmp_path / "df.pkl")
    pd.DataFrame({"k": [1, 2], "v": ["x", "y"]}).to_pickle(p)
    with _pytest.raises(ValueError, match="allow_unsafe"):
        load_pickle(spark, p, "d")
    ds = load_pickle(spark, p, "d", allow_unsafe=True)
    assert {tuple(r) for r in ds.df.collect()} == {(1, "x"), (2, "y")}
    assert ds.provenance["reader"] == "pickle"
    # non-DataFrame payloads are rejected
    pd.to_pickle([1, 2, 3], p)
    with _pytest.raises(TypeError):
        load_pickle(spark, p, "d", allow_unsafe=True)


def test_xlsx_escapes_surrogates_and_noncharacters(tmp_path):
    """Lone surrogates and U+FFFE/FFFF can't be UTF-8-encoded or carried
    in XML — they must ride the _xHHHH_ escape like control chars."""
    from pydi_spark.io.xlsx import read_xlsx, write_xlsx

    p = str(tmp_path / "t.xlsx")
    evil = "a\ud800b￾c\x07d\udfff"
    write_xlsx(p, {"s": (["v"], [[evil]])})
    cols, rows = read_xlsx(p)["s"]
    assert rows[0][0] == evil


def test_xlsx_sheet_name_with_quote_parses(tmp_path):
    """Round-5 ADVICE: a double quote in a sheet name must be escaped
    in workbook.xml's name="..." attribute — saxutils.escape alone
    leaves it raw and every subsequent read fails to parse."""
    from pydi_spark.io.xlsx import read_xlsx, write_xlsx

    p = str(tmp_path / "q.xlsx")
    name = 'he said "hi" & <left'
    write_xlsx(p, {name: (["v"], [[1]])})
    got = read_xlsx(p)
    assert set(got) == {name}
    assert got[name][1] == [[1]]


def test_xlsx_nonfinite_floats_write_empty_cells(tmp_path):
    """Round-5 ADVICE: Excel has no numeric NaN/inf — repr() emitted
    '<v>nan</v>', invalid SpreadsheetML. Non-finite floats now write
    as empty cells (pandas to_excel convention) and read back None;
    the worksheet XML must stay parseable and free of nan/inf tokens."""
    import math
    import zipfile

    from pydi_spark.io.xlsx import read_xlsx, write_xlsx

    p = str(tmp_path / "nf.xlsx")
    write_xlsx(p, {"s": (["a", "b"], [
        [float("nan"), 1.5],
        [float("inf"), float("-inf")],
    ])})
    with zipfile.ZipFile(p) as zf:
        xml = zf.read("xl/worksheets/sheet1.xml").decode()
    assert "nan" not in xml and "inf" not in xml
    cols, rows = read_xlsx(p)["s"]
    assert rows == [[None, 1.5], [None, None]]


def test_html_parser_misnested_markup_does_not_crash():
    """Round-5 ADVICE: '</tr>' closing while a cell is open left
    _row=None and the trailing '</td>' crashed on None.append. The
    open cell must flush into the current row instead."""
    from pydi_spark.io.htmltables import read_html_tables

    tables = read_html_tables("<table><tr><td>x</tr></td></table>")
    assert tables == [(["c0"], [["x"]])]
    # cell still open when the table itself closes
    tables = read_html_tables("<table><tr><td>y</table>")
    assert tables == [(["c0"], [["y"]])]
    # stray close tags with no open row at all
    assert read_html_tables("</td></tr></table>x") == []


# ------------------------------------------------------------ table diff

def test_table_diff_statuses(spark):
    from pydi_spark.io import diff_summary, table_diff

    old = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, "c", 30), (4, None, 40)],
        "k int, v string, w int",
    )
    new = spark.createDataFrame(
        [(2, "b", 20), (3, "CHANGED", 30), (4, "now-set", 40), (5, "e", 50)],
        "k int, v string, w int",
    )
    got = {r["k"]: r["diff_status"] for r in table_diff(old, new, "k").collect()}
    assert got == {1: "removed", 3: "changed", 4: "changed", 5: "added"}
    # include_unchanged surfaces key 2
    full = {
        r["k"]: r["diff_status"]
        for r in table_diff(old, new, "k", include_unchanged=True).collect()
    }
    assert full[2] == "unchanged" and len(full) == 5
    counts = {
        r["diff_status"]: r["n"]
        for r in diff_summary(table_diff(old, new, "k")).collect()
    }
    assert counts == {"removed": 1, "changed": 2, "added": 1}


def test_table_diff_compare_cols_subset(spark):
    from pydi_spark.io import table_diff

    old = spark.createDataFrame([(1, "a", 1), (2, "b", 2)], "k int, v string, ts int")
    new = spark.createDataFrame([(1, "a", 99), (2, "X", 2)], "k int, v string, ts int")
    # ignoring the ts column, only key 2 changed
    got = {r["k"]: r["diff_status"]
           for r in table_diff(old, new, "k", compare_cols=["v"]).collect()}
    assert got == {2: "changed"}


def test_table_diff_validation(spark):
    import pytest as _pytest

    from pydi_spark.io import table_diff

    a = spark.createDataFrame([(1,)], "k int")
    with _pytest.raises(ValueError):
        table_diff(a, a, "k")


# ------------------------------------------------------- SCD2 history

def test_scd2_history(spark):
    from pydi_spark.io import scd2_history

    changes = spark.createDataFrame(
        [
            ("k1", "v1", 1, "I"), ("k1", "v2", 3, "U"), ("k1", "v3", 7, "U"),
            ("k2", "w1", 2, "I"), ("k2", "w1", 5, "D"),
            ("k3", "z1", 4, "I"),
        ],
        "k string, val string, version int, op string",
    )
    rows = {
        (r["k"], r["valid_from"]): (r["val"], r["valid_to"], r["is_current"])
        for r in scd2_history(changes, "k").collect()
    }
    assert rows[("k1", 1)] == ("v1", 3, 0)
    assert rows[("k1", 3)] == ("v2", 7, 0)
    assert rows[("k1", 7)] == ("v3", None, 1)
    # the delete closes k2's interval and emits no current row
    assert rows[("k2", 2)] == ("w1", 5, 0)
    assert rows[("k3", 4)] == ("z1", None, 1)
    assert len(rows) == 5


# ---------------------------------------------------- schema-align union

def test_align_and_union(spark):
    from pydi_spark.io import align_and_union

    a = spark.createDataFrame([(1, "x", 10)], "k int, name string, n int")
    b = spark.createDataFrame([(2.5, "y", True)], "k double, name string, flag boolean")
    out = align_and_union([a, b], source_col="src", source_names=["A", "B"])
    assert [f.name for f in out.schema.fields] == ["k", "name", "n", "flag", "src"]
    types = {f.name: f.dataType.simpleString() for f in out.schema.fields}
    assert types["k"] == "double"      # int + double -> double
    assert types["n"] == "int"         # only in A, unchanged
    rows = {r["src"]: r for r in out.collect()}
    assert rows["A"]["k"] == 1.0 and rows["A"]["flag"] is None
    assert rows["B"]["n"] is None and rows["B"]["flag"] is True


def test_align_and_union_widening_rules(spark):
    import pytest as _pytest

    from pydi_spark.io import align_and_union

    a = spark.createDataFrame([(1,)], "v int")
    b = spark.createDataFrame([(2,)], "v bigint")
    assert align_and_union([a, b]).schema["v"].dataType.simpleString() == "bigint"
    c = spark.createDataFrame([("s",)], "v string")
    assert align_and_union([a, c]).schema["v"].dataType.simpleString() == "string"
    d = spark.createDataFrame([([1],)], "v array<int>")
    with _pytest.raises(ValueError):
        align_and_union([a, d])
    with _pytest.raises(ValueError):
        align_and_union([])


# ----------------------------------------------------- compaction planning

def test_plan_compaction_bins(spark):
    from pydi_spark.io import compaction_summary, plan_compaction

    files = spark.createDataFrame(
        [(f"f{i:02d}", s) for i, s in enumerate([40, 40, 40, 40, 250, 10, 90])],
        ["path", "size_bytes"],
    )
    plan = {r["path"]: r["bin"] for r in plan_compaction(files, 100).collect()}
    # f04 (250 >= target) untouched; small files walk in path order:
    # cum_excl 0,40,80,120,160,170 -> bins 0,0,0,1,1,1
    assert plan == {
        "f00": 0, "f01": 0, "f02": 0, "f03": 1, "f05": 1, "f06": 1,
        "f04": None,
    }
    summary = {
        r["bin"]: (r["n_files"], r["bin_bytes"])
        for r in compaction_summary(plan_compaction(files, 100)).collect()
    }
    assert summary[0] == (3, 120) and summary[None] == (1, 250)
    import pytest as _pytest

    with _pytest.raises(ValueError):
        plan_compaction(files, 0)


def test_plan_compaction_idempotent_and_list_files(spark, tmp_path):
    from pydi_spark.io import list_data_files, plan_compaction

    d = tmp_path / "data"
    d.mkdir()
    for i in range(5):
        (d / f"part-{i}.bin").write_bytes(b"x" * (100 + i))
    files = list_data_files(spark, str(d))
    got = {(r["path"].rsplit("/", 1)[-1], r["size_bytes"])
           for r in files.collect()}
    assert got == {(f"part-{i}.bin", 100 + i) for i in range(5)}
    a = sorted(tuple(r) for r in plan_compaction(files, 250).collect())
    b = sorted(
        tuple(r)
        for r in plan_compaction(files.repartition(4), 250).collect()
    )
    assert a == b  # plan is a pure function of the file list


def test_point_in_time_join(spark):
    """Each fact matches the dimension version valid at its time;
    facts before the first version / on deleted keys stay unmatched;
    intervals partition the timeline so matches are unique."""
    from pydi_spark.io import point_in_time_join, scd2_history

    changes = spark.createDataFrame(
        [("k1", "bronze", 10, "U"), ("k1", "silver", 20, "U"),
         ("k1", "gold", 30, "U"),
         ("k2", "basic", 15, "U"), ("k2", None, 25, "D")],
        "key string, tier string, version int, op string",
    )
    hist = scd2_history(changes, "key")
    facts = spark.createDataFrame(
        [("f1", "k1", 10), ("f2", "k1", 25), ("f3", "k1", 99),
         ("f4", "k2", 16), ("f5", "k2", 30),   # after k2's delete
         ("f6", "k1", 5),                      # before first version
         ("f7", "kX", 10)],                    # unknown key
        "fact_id string, key string, at long",
    )
    out = {r["fact_id"]: r for r in
           point_in_time_join(facts, hist, "key", "at").collect()}
    assert len(out) == 7  # left join keeps every fact exactly once
    assert out["f1"]["tier"] == "bronze"   # at == valid_from matches
    assert out["f2"]["tier"] == "silver"
    assert out["f3"]["tier"] == "gold"     # open interval
    assert out["f4"]["tier"] == "basic"
    assert out["f5"]["tier"] is None       # delete closed the interval
    assert out["f6"]["tier"] is None
    assert out["f7"]["tier"] is None
    # colliding column names get the suffix
    hist2 = hist.withColumnRenamed("tier", "at")
    cols = point_in_time_join(facts, hist2, "key", "at").columns
    assert "at_dim" in cols and cols.count("at") == 1


def test_rendezvous_shard_weights_and_stability(spark):
    import pytest as _pytest
    from pyspark.sql import functions as F

    from pydi_spark.io import rendezvous_shard

    keys = spark.range(300).select(F.col("id").alias("k"))
    a = rendezvous_shard(keys, "k", [3, 2, 1])
    counts = {r["shard"]: r["n"] for r in
              a.groupBy("shard").agg(F.count("*").alias("n")).collect()}
    # weights steer capacity: shard 0 (weight 3) > shard 2 (weight 1)
    assert set(counts) == {0, 1, 2}
    assert counts[0] > counts[2]
    # deterministic: same call, same assignment
    b = rendezvous_shard(keys, "k", [3, 2, 1])
    assert a.collect() == b.collect()
    # minimal movement: dropping the LAST shard only moves ITS keys
    dropped = rendezvous_shard(keys, "k", [3, 2]).withColumnRenamed(
        "shard", "shard2"
    )
    j = a.join(dropped, "k")
    moved = j.where("shard != shard2")
    assert moved.where("shard != 2").count() == 0
    assert moved.count() == counts[2]
    with _pytest.raises(ValueError):
        rendezvous_shard(keys, "k", [])
    with _pytest.raises(ValueError):
        rendezvous_shard(keys, "k", [2, 0])
