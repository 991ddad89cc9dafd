"""Columnar flat-scan fast path: exact equivalence with the row path.

The columnar path (sources/datasource._columnar_batches) must be
invisible: same values, same nulls, same malformed-record policy as the
per-row parse for every record shape, falling back wherever equivalence
isn't provable.
"""

import json

import pyarrow as pa
import pytest
from pyspark.sql import types as T

from spark_xml_spark.options import XmlOptions
from spark_xml_spark.sources import datasource as D
from spark_xml_spark.xmlcore import parser


def _both_paths(records, schema, opts):
    fix = D._tz_fixer(schema)
    rows = parser.parse_records(iter(records), schema, opts)
    rows = [fix(r) for r in rows] if fix else list(rows)
    ref = list(D._rows_to_arrow_batches(iter(rows), schema, 512))
    col = list(D._columnar_batches(
        (("rec", r) for r in records), schema, opts, 512, D._TierTally()
    ))
    rt = pa.Table.from_batches(ref) if ref else None
    ct = pa.Table.from_batches(col) if col else None
    return rt, ct


SCHEMA = T.StructType(
    [
        T.StructField("i", T.LongType()),
        T.StructField("s", T.StringType()),
        T.StructField("d", T.DoubleType()),
        T.StructField("b", T.BooleanType()),
        T.StructField("dt", T.DateType()),
        T.StructField("ts", T.TimestampType()),
    ]
)


def _rec(i="1", s="x", d="1.5", b="true", dt="2021-02-01", ts="2021-02-01T12:30:45Z"):
    parts = ["<r>"]
    for tag, v in (("i", i), ("s", s), ("d", d), ("b", b), ("dt", dt), ("ts", ts)):
        if v is not None:
            parts.append(f"<{tag}>{v}</{tag}>")
    parts.append("</r>")
    return "".join(parts)


OPTS = XmlOptions.from_dict({"rowTag": "r", "timezone": "UTC"})


def test_clean_batch_identical():
    recs = [_rec(i=str(k), d=f"{k}.25") for k in range(100)]
    rt, ct = _both_paths(recs, SCHEMA, OPTS)
    assert rt.equals(ct)


def test_missing_and_empty_fields():
    recs = [
        _rec(),
        _rec(s=None),            # missing tag -> null
        _rec(s=""),              # empty string element -> ""
        _rec(i=""),              # empty numeric element -> null
        _rec(i=None, d=None, b=None, dt=None, ts=None),
    ]
    rt, ct = _both_paths(recs, SCHEMA, OPTS)
    assert rt.equals(ct)
    assert ct["s"].to_pylist()[1:3] == [None, ""]
    assert ct["i"].to_pylist()[3] is None


def test_plus_sign_and_grouping_fall_back_to_python():
    """Arrow rejects '+12' and '1,234.5'; the Python casters accept both —
    results must match the row path exactly."""
    recs = [_rec(i="+12", d="1,234.5"), _rec(i="-7", d="2.5")]
    rt, ct = _both_paths(recs, SCHEMA, OPTS)
    assert rt.equals(ct)
    assert ct["i"].to_pylist() == [12, -7]
    assert ct["d"].to_pylist() == [1234.5, 2.5]


def test_date_only_timestamp_is_malformed_both_paths():
    """Arrow would happily cast '2021-02-01' to a midnight timestamp; the
    row path treats it as malformed (PERMISSIVE -> all-null row). The
    guard regex must force agreement."""
    recs = [_rec(), _rec(ts="2021-02-01")]
    rt, ct = _both_paths(recs, SCHEMA, OPTS)
    assert rt.equals(ct)
    assert ct["ts"].to_pylist()[1] is None
    # PERMISSIVE keeps the partial row (other fields parsed)
    assert ct["i"].to_pylist()[1] == 1


def test_entities_fall_back():
    recs = [_rec(s="a&amp;b"), _rec(s="plain")]
    rt, ct = _both_paths(recs, SCHEMA, OPTS)
    assert rt.equals(ct)
    assert ct["s"].to_pylist()[0] == "a&b"


def test_whitespace_only_numeric_policy():
    recs = [_rec(i="  "), _rec()]
    rt, ct = _both_paths(recs, SCHEMA, OPTS)
    assert rt.equals(ct)


def test_dropmalformed():
    opts = XmlOptions.from_dict(
        {"rowTag": "r", "timezone": "UTC", "mode": "DROPMALFORMED"}
    )
    recs = [_rec(), _rec(i="notanint"), _rec(i="5")]
    rt, ct = _both_paths(recs, SCHEMA, opts)
    assert rt.equals(ct)
    assert ct.num_rows == 2


def test_failfast_raises():
    opts = XmlOptions.from_dict(
        {"rowTag": "r", "timezone": "UTC", "mode": "FAILFAST"}
    )
    recs = [_rec(), _rec(i="notanint")]
    with pytest.raises(Exception):
        list(D._columnar_batches(
            (("rec", r) for r in recs), SCHEMA, opts, 512, D._TierTally()
        ))


def test_reordered_fields_fall_back():
    recs = [_rec(), "<r><s>y</s><i>9</i></r>"]
    rt, ct = _both_paths(recs, SCHEMA, OPTS)
    assert rt.equals(ct)
    row = {n: ct[n].to_pylist()[1] for n in ("i", "s")}
    assert row == {"i": 9, "s": "y"}


def test_qualifier_rejects_non_defaults():
    assert D._columnar_ok(SCHEMA, OPTS)
    for extra in (
        {"nullValue": "NA"},
        {"ignoreSurroundingSpaces": "true"},
        {"treatEmptyValuesAsNulls": "true"},
        {"rowValidationXSDPath": "/tmp/x.xsd"},
    ):
        o = XmlOptions.from_dict({"rowTag": "r", **extra})
        assert not D._columnar_ok(SCHEMA, o), extra
    with_corrupt = T.StructType(
        SCHEMA.fields + [T.StructField("_corrupt_record", T.StringType())]
    )
    assert not D._columnar_ok(with_corrupt, OPTS)
    nested = T.StructType(
        [T.StructField("x", T.StructType([T.StructField("y", T.LongType())]))]
    )
    assert not D._columnar_ok(nested, OPTS)


ATTR_SCHEMA = T.StructType(
    [
        T.StructField("_id", T.LongType()),
        T.StructField("_status", T.StringType()),
        T.StructField("price", T.DoubleType()),
    ]
)


def _arec(i='id="1"', s='status="O"', p="12.5"):
    attrs = " ".join(a for a in (i, s) if a)
    body = f"<price>{p}</price>" if p is not None else ""
    return f"<r {attrs}>{body}</r>" if attrs else f"<r>{body}</r>"


def test_attr_batch_identical():
    recs = [_arec(i=f'id="{k}"', p=f"{k}.25") for k in range(100)]
    rt, ct = _both_paths(recs, ATTR_SCHEMA, OPTS)
    assert rt.equals(ct)
    assert ct["_id"].to_pylist()[:3] == [0, 1, 2]
    assert ct["_status"].to_pylist()[0] == "O"


def test_attr_missing_reordered_quotes_entities():
    recs = [
        _arec(),
        _arec(s=""),                              # missing attr -> null
        '<r status="P" id="4"><price>2.0</price></r>',   # reordered
        "<r id='5' status='Q'><price>3.0</price></r>",   # single quotes
        '<r id="6" status="a&amp;b"><price>4.0</price></r>',  # entity
        '<r id="7" status=""><price>5.0</price></r>',    # empty string attr
        '<r id="8" status="X" extra="z"><price>6.0</price></r>',  # unmapped
    ]
    rt, ct = _both_paths(recs, ATTR_SCHEMA, OPTS)
    assert rt.equals(ct)
    assert ct["_id"].to_pylist() == [1, 1, 4, 5, 6, 7, 8]
    assert ct["_status"].to_pylist() == ["O", None, "P", "Q", "a&b", "", "X"]


def test_attr_empty_numeric_is_malformed_both_paths():
    """An empty attribute value does NOT null-coerce (unlike an empty
    element): cast_to('') raises for long -> PERMISSIVE all-null row."""
    recs = [_arec(), '<r id="" status="E"><price>9.0</price></r>']
    rt, ct = _both_paths(recs, ATTR_SCHEMA, OPTS)
    assert rt.equals(ct)
    assert ct["_id"].to_pylist()[1] is None
    assert ct["_status"].to_pylist()[1] is None  # whole row nulled


def test_attr_element_collision_element_wins():
    """A child element literally named like the prefixed field overwrites
    the root attribute, matching convert_object ordering."""
    recs = [
        '<r id="1" status="A"><price>1.0</price><_id>99</_id></r>',
        '<r id="2" status="B"><price>2.0</price><_id>98</_id></r>',
    ]
    rt, ct = _both_paths(recs, ATTR_SCHEMA, OPTS)
    assert rt.equals(ct)
    assert ct["_id"].to_pylist() == [99, 98]


def test_unclosed_tag_is_malformed_both_paths():
    """An unclosed tag can satisfy the '<'-count arithmetic by standing in
    for the root close; the root-close suffix check must reject it so the
    parse policy fires exactly as on the generic path (regression: these
    fragments silently parsed as partial rows)."""
    from spark_xml_spark.options import XmlOptions as XO

    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("src", T.StringType()),
            T.StructField("_corrupt_record", T.StringType()),
        ]
    )
    o = XO()
    fast = parser.FastFlatParser.try_build(schema, o)
    bads = ["<d><id>0</id><src>", "<d><id>1</id></src>", "<d><id>1</id><d>"]
    good = "<d><id>1</id><src>ok</src></d>"
    for _tier in range(2):  # second pass exercises the learned tier-0 pattern
        for r in [good] + bads:
            got = parser.parse_record(r, schema, o, fast=fast)
            ref = parser.parse_record(r, schema, o, fast=None)
            assert got == ref, (r, got, ref)
    for r in bads:
        row = parser.parse_record(r, schema, o, fast=fast)
        assert row[2] == r  # corrupt column holds the raw record


def test_attr_spark_end_to_end(spark, tmp_path):
    """Writer emits _-prefixed fields as attributes; the columnar read of
    that output agrees with the pure row path."""
    from spark_xml_spark.sources.api import read_xml, write_xml

    df = spark.createDataFrame(
        [(k, "FO"[k % 2], k * 1.5) for k in range(500)],
        "_id bigint, _status string, price double",
    )
    out = str(tmp_path / "t")
    write_xml(df.repartition(2), out, rowTag="row")
    a = read_xml(spark, out, rowTag="row")
    b = read_xml(spark, out, rowTag="row", arrowBatches="false")
    assert {tuple(r) for r in a.collect()} == {tuple(r) for r in b.collect()}
    assert a.count() == 500


def test_spark_end_to_end_matches_cached_table(spark, tmp_path):
    """Full engine read (columnar path active) agrees with arrowBatches=off
    (pure row path) on a real generated file."""
    from spark_xml_spark.sources.api import read_xml, write_xml

    df = spark.createDataFrame(
        [(k, f"n{k}", k * 1.5) for k in range(500)],
        "k bigint, name string, v double",
    )
    out = str(tmp_path / "t")
    write_xml(df.repartition(2), out, rowTag="row")
    a = read_xml(spark, out, rowTag="row")
    b = read_xml(spark, out, rowTag="row", arrowBatches="false")
    assert {tuple(r) for r in a.collect()} == {tuple(r) for r in b.collect()}
    assert a.count() == 500


VT_SCHEMA = T.StructType(
    [
        T.StructField("okey", T.LongType()),
        T.StructField(
            "price",
            T.StructType(
                [
                    T.StructField("_VALUE", T.DoubleType()),
                    T.StructField("_prio", T.StringType()),
                ]
            ),
        ),
        T.StructField("note", T.StringType()),
    ]
)

VT_OPTS = XmlOptions.from_dict({"rowTag": "order", "timezone": "UTC"})


def test_struct_columnar_identical():
    recs = [
        f'<order><okey>{k}</okey><price prio="P{k % 3}">{k}.25</price>'
        f"<note>n{k}</note></order>"
        for k in range(200)
    ]
    rt, ct = _both_paths(recs, VT_SCHEMA, VT_OPTS)
    assert rt.equals(ct)
    assert ct["price"].to_pylist()[1] == {"_VALUE": 1.25, "_prio": "P1"}


def test_struct_columnar_edge_shapes():
    recs = [
        '<order><okey>1</okey><price prio="H">5.5</price><note>n1</note></order>',
        '<order><okey>2</okey><price prio="L">1.5</price></order>',   # no note
        '<order><okey>3</okey><price>2.5</price><note></note></order>',  # no attr, empty note
        '<order><okey>4</okey><note>x</note></order>',                # struct absent -> null
        '<order><okey>5</okey><price prio="X"></price></order>',      # empty body -> _VALUE null
        '<order><okey>6</okey><price prio="Z" extra="e">3.0</price></order>',  # unknown attr
        '<order><okey>7</okey><price prio="R">bad</price></order>',   # malformed -> policy
        "<order><okey>8</okey><price prio='Q'>4.0</price></order>",   # single quotes
    ]
    rt, ct = _both_paths(recs, VT_SCHEMA, VT_OPTS)
    assert rt.equals(ct)
    got = ct["price"].to_pylist()
    assert got[3] is None                       # absent element = null struct
    assert got[4] == {"_VALUE": None, "_prio": "X"}
    assert ct["okey"].to_pylist()[6] == 7       # PERMISSIVE partial row


def test_struct_columnar_string_value_empty_body():
    schema = T.StructType(
        [
            T.StructField(
                "tag",
                T.StructType(
                    [
                        T.StructField("_VALUE", T.StringType()),
                        T.StructField("_k", T.StringType()),
                    ]
                ),
            )
        ]
    )
    recs = [
        '<order><tag k="a">txt</tag></order>',
        '<order><tag k="b"></tag></order>',  # string body: END event -> null
    ]
    rt, ct = _both_paths(recs, schema, VT_OPTS)
    assert rt.equals(ct)
    assert ct["tag"].to_pylist() == [
        {"_VALUE": "txt", "_k": "a"},
        {"_VALUE": None, "_k": "b"},
    ]


def test_struct_columnar_spark_end_to_end(spark, tmp_path):
    from spark_xml_spark.sources.api import read_xml, write_xml
    from pyspark.sql import functions as SF

    df = spark.createDataFrame(
        [(k, (k * 1.5, f"p{k % 4}")) for k in range(400)],
        "okey bigint, price struct<_VALUE:double,_prio:string>",
    )
    out = str(tmp_path / "vt")
    write_xml(df.repartition(2), out, rowTag="order")
    a = read_xml(spark, out, rowTag="order")
    b = read_xml(spark, out, rowTag="order", arrowBatches="false")
    assert {tuple(r) for r in a.collect()} == {tuple(r) for r in b.collect()}
    assert a.count() == 400


def test_attr_captured_when_element_absent():
    """Regression: the learned pattern suppressed the root-attr capture
    whenever the learning record also had a same-named element, silently
    NULLing the attribute on later records without the element. Both are
    captured now; in-order overwrite keeps element-wins semantics, and
    the columnar transpose (which can't express multi-group fields)
    falls back to the row path."""
    schema = T.StructType(
        [T.StructField("_id", T.StringType()), T.StructField("v", T.LongType())]
    )
    opts = XmlOptions.from_dict({"rowTag": "r"})
    fast = parser.FastFlatParser.try_build(schema, opts)
    recs = [
        '<r id="A"><_id>E</_id><v>1</v></r>',  # learning record: both
        '<r id="B"><v>2</v></r>',              # attr only
        "<r><v>3</v></r>",                     # neither
    ]
    for _tier in range(2):
        for r in recs:
            got = parser.parse_record(r, schema, opts, fast=fast)
            ref = parser.parse_record(r, schema, opts, fast=None)
            assert got == ref, (r, got, ref)
    rt, ct = _both_paths(recs, schema, opts)
    assert rt.equals(ct)
    assert ct["_id"].to_pylist() == ["E", "B", None]


def test_duplicate_tag_columnar_falls_back():
    """Regression: a duplicated tag in the learning record compiled two
    capture groups for one field and the columnar transpose crashed on
    mismatched column lengths; such scans now take the row path."""
    schema = T.StructType(
        [T.StructField("a", T.StringType()), T.StructField("b", T.StringType())]
    )
    opts = XmlOptions.from_dict({"rowTag": "r"})
    recs = ["<r><a>1</a><a>2</a><b>x</b></r>", "<r><a>3</a><b>y</b></r>"]
    rt, ct = _both_paths(recs, schema, opts)
    assert rt.equals(ct)
    assert ct["a"].to_pylist() == ["2", "3"]  # last occurrence wins


# --- window items (scan_split_windows -> _columnar_batches) ----------------


def _window_vs_record_paths(doc: str, schema, opts, row_tag="r",
                            target=512, charset="utf-8"):
    """Write doc, scan via forced-small splits, run BOTH the fused window
    path and the record path end-to-end; return (window_tbl, record_tbl,
    flat_records)."""
    import os
    import tempfile

    from spark_xml_spark.xmlcore import tokenizer as tok

    d = tempfile.mkdtemp()
    p = os.path.join(d, "t.xml")
    with open(p, "wb") as fh:
        fh.write(doc.encode(charset))
    splits = tok.plan_splits(p, charset, target)

    def windows():
        for s in splits:
            yield from tok.scan_split_windows(s, row_tag, charset)

    def records():
        for s in splits:
            yield from tok.scan_split(s, row_tag, charset)

    win = list(
        D._columnar_batches(windows(), schema, opts, 256, D._TierTally())
    )
    rec = list(D._columnar_batches(
        (("rec", r) for r in records()), schema, opts, 256, D._TierTally()
    ))
    wt = pa.Table.from_batches(win) if win else None
    rt = pa.Table.from_batches(rec) if rec else None
    return wt, rt, list(records())


def test_window_path_identical_clean_data():
    doc = "<root>" + "".join(_rec(i=str(k)) for k in range(900)) + "</root>"
    wt, rt, recs = _window_vs_record_paths(doc, SCHEMA, OPTS)
    assert len(recs) == 900
    assert wt.num_rows == 900
    assert wt.equals(rt)


def test_window_path_null_elided_and_entities():
    """Records with missing fields fail the strict window findall (count
    mismatch) and route through the per-record ladder; entity-bearing
    windows fall back entirely. Results must equal the record path."""
    recs = []
    for k in range(300):
        if k % 7 == 0:
            recs.append(_rec(i=str(k), s=None, d=None))  # null-elided
        elif k % 11 == 0:
            recs.append(_rec(i=str(k), s="a&amp;b"))  # entity
        else:
            recs.append(_rec(i=str(k)))
    doc = "<root>" + "".join(recs) + "</root>"
    wt, rt, _ = _window_vs_record_paths(doc, SCHEMA, OPTS)
    assert wt.num_rows == 300
    assert wt.equals(rt)
    # null elision really produced nulls
    scol = wt.column("s").to_pylist()
    assert scol[0] is None and scol[1] == "x"


def test_window_path_quoted_attr_windows_fall_back():
    """Windows containing quotes (attributes) are rejected by the batch
    window scanner and arrive as per-record items; results still equal
    the record path."""
    schema = T.StructType(
        [T.StructField("_a", T.StringType()), T.StructField("i", T.LongType())]
    )
    opts = XmlOptions.from_dict({"rowTag": "r"})
    doc = "<root>" + "".join(
        f'<r a="v{k}"><i>{k}</i></r>' for k in range(200)
    ) + "</root>"
    wt, rt, _ = _window_vs_record_paths(doc, schema, opts)
    assert wt.num_rows == 200
    assert wt.equals(rt)
    assert wt.column("_a").to_pylist()[:2] == ["v0", "v1"]


def test_window_path_learns_on_dirty_window_corpora():
    """Review r7: attribute corpora make EVERY window quote-dirty, so all
    records arrive as per-record items — the window consumer must learn
    the pattern there too, or the scan silently runs the row tier
    forever (~10x)."""
    import os
    import tempfile

    from spark_xml_spark.xmlcore import tokenizer as tok

    schema = T.StructType(
        [T.StructField("_a", T.StringType()), T.StructField("i", T.LongType())]
    )
    opts = XmlOptions.from_dict({"rowTag": "r"})
    doc = "<root>" + "".join(
        f'<r a="v{k}"><i>{k}</i></r>' for k in range(2000)
    ) + "</root>"
    d = tempfile.mkdtemp()
    p = os.path.join(d, "t.xml")
    with open(p, "w") as fh:
        fh.write(doc)

    def windows():
        for s in tok.plan_splits(p, "utf-8", 1 << 20):
            yield from tok.scan_split_windows(s, "r", "utf-8")

    tally = D._TierTally()
    batches = list(
        D._columnar_batches(windows(), schema, opts, 256, tally)
    )
    assert pa.Table.from_batches(batches).num_rows == 2000
    # the learned-pattern tier served everything; zero rows on the row tier
    assert tally.counts.get("columnar_flat") == 2000
    assert "row_fallback" not in tally.counts


# --- reader level: parse modes and tier routing, Spark-free ----------------


def _reader_read(tmp_path, doc, schema, opts, filters=None):
    """Write doc, then plan and read it through the data source reader in
    process, as a Spark task would; returns the rows as dicts."""
    p = tmp_path / "t.xml"
    p.write_text(doc)
    reader_cls = D.XmlPushdownReader if filters is not None else D.XmlReader
    reader = reader_cls({"path": str(p), **opts}, schema)
    if filters is not None:
        assert reader.pushFilters(filters) == []  # every filter pushed
    out = []
    for part in reader.partitions():
        for item in reader.read(part):
            if isinstance(item, pa.RecordBatch):
                out.extend(item.to_pylist())
            else:
                out.append(dict(zip(schema.names, item)))
    return out


_ATTR_SCHEMA = T.StructType(
    [
        T.StructField("_id", T.LongType()),
        T.StructField("_status", T.StringType()),
        T.StructField("price", T.DoubleType()),
    ]
)
# an empty attribute on a non-string column is malformed on the generic
# parser; the clean record ahead of it lets the scan learn its pattern
_ATTR_DOC = (
    '<root><r id="1" status="A"><price>1.0</price></r>'
    '<r id="" status="E"><price>9.0</price></r></root>'
)


@pytest.mark.parametrize("mode", ["PERMISSIVE", "DROPMALFORMED", "FAILFAST"])
def test_empty_root_attribute_follows_parse_mode(tmp_path, mode):
    """Root-attribute columns take attribute cast semantics on the default
    (unpushed) read path, so an empty numeric attribute is malformed in
    every mode, exactly as on the generic parser — never a silent null
    next to the record's other values."""
    opts = {"rowTag": "r", "mode": mode}
    good = {"_id": 1, "_status": "A", "price": 1.0}
    if mode == "FAILFAST":
        with pytest.raises(parser.MalformedRecordError):
            _reader_read(tmp_path, _ATTR_DOC, _ATTR_SCHEMA, opts)
        return
    got = _reader_read(tmp_path, _ATTR_DOC, _ATTR_SCHEMA, opts)
    want = [good]
    if mode == "PERMISSIVE":
        want.append({"_id": None, "_status": None, "price": None})
    assert got == want
    # the exact row path agrees
    exact = _reader_read(
        tmp_path, _ATTR_DOC, _ATTR_SCHEMA, {**opts, "arrowBatches": "false"}
    )
    assert exact == want


def _tier_rows(stats_dir):
    rows = {}
    for f in stats_dir.iterdir():
        for line in f.read_text().splitlines():
            rec = json.loads(line)
            rows[rec["tier"]] = rows.get(rec["tier"], 0) + rec["rows"]
    return rows


_ROUTE_SCHEMA = T.StructType(
    [
        T.StructField("k", T.LongType()),
        T.StructField("name", T.StringType()),
        T.StructField("v", T.DoubleType()),
    ]
)
_ROUTE_DOC = "<root>" + "".join(
    f"<r><k>{k}</k><name>n{k % 7}</name><v>{k}.5</v></r>" for k in range(3000)
) + "</root>"


def test_unpushed_flat_scan_served_by_window_tier(tmp_path, monkeypatch):
    stats = tmp_path / "stats"
    stats.mkdir()
    monkeypatch.setenv(D._TIER_STATS_ENV, str(stats))
    got = _reader_read(tmp_path, _ROUTE_DOC, _ROUTE_SCHEMA, {"rowTag": "r"})
    assert len(got) == 3000
    tiers = _tier_rows(stats)
    assert tiers.get("columnar_window") == 3000, tiers
    assert not any(t.startswith("row_") and n for t, n in tiers.items())


def test_arrow_pushed_flat_scan_served_by_columnar_tier(tmp_path, monkeypatch):
    from pyspark.sql import datasource as ds

    stats = tmp_path / "stats"
    stats.mkdir()
    monkeypatch.setenv(D._TIER_STATS_ENV, str(stats))
    filters = [ds.GreaterThan(("k",), 17), ds.EqualTo(("name",), "n3")]
    assert all(
        D._compile_filter_arrow(f, _ROUTE_SCHEMA, "_corrupt_record")
        is not None
        for f in filters
    )
    got = _reader_read(
        tmp_path, _ROUTE_DOC, _ROUTE_SCHEMA, {"rowTag": "r"}, filters
    )
    assert got == [
        {"k": k, "name": "n3", "v": k + 0.5}
        for k in range(3000)
        if k > 17 and k % 7 == 3
    ]
    tiers = _tier_rows(stats)
    # the raw-text prefilter drops records without "n3" before the scan
    assert tiers.get("columnar_flat") == sum(
        1 for k in range(3000) if k % 7 == 3
    ), tiers
    assert not any(t.startswith("row_") and n for t, n in tiers.items())
