"""Property-based write->tokenize->parse roundtrip over randomized rows of
all supported scalar types plus arrays and nested structs (the SURVEY §5
testing-plan item the reference approximates with
StaxXmlGeneratorSuite.scala:67-108).

Library-level (no Spark session): generator.rows_to_document ->
tokenizer.scan_string -> parser.parse_record must reproduce the input
exactly under the explicit schema.
"""

import datetime
import math

from hypothesis import given, settings
from hypothesis import strategies as st

from pyspark.sql import types as T

from spark_xml_spark.options import XmlOptions
from spark_xml_spark.xmlcore import generator, parser, tokenizer

# XML 1.0 cannot carry control characters; the reference inherits the same
# restriction from its XML writer.
_text = st.text(
    alphabet=st.characters(
        min_codepoint=0x20, max_codepoint=0x2FF, blacklist_characters="\x7f"
    ),
    max_size=40,
)
_longs = st.integers(min_value=-(2**63), max_value=2**63 - 1)
_doubles = st.floats(allow_nan=False, allow_infinity=True, width=64)
_dates = st.dates(
    min_value=datetime.date(1, 1, 1), max_value=datetime.date(9999, 12, 31)
)
_timestamps = st.datetimes(
    min_value=datetime.datetime(1, 1, 1), max_value=datetime.datetime(9999, 12, 28)
)

SCHEMA = T.StructType(
    [
        T.StructField("s", T.StringType()),
        T.StructField("l", T.LongType()),
        T.StructField("d", T.DoubleType()),
        T.StructField("b", T.BooleanType()),
        T.StructField("dt", T.DateType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("arr", T.ArrayType(T.LongType())),
        T.StructField(
            "nested",
            T.StructType(
                [
                    T.StructField("x", T.StringType()),
                    T.StructField("y", T.DoubleType()),
                ]
            ),
        ),
    ]
)

_row = st.tuples(
    st.one_of(st.none(), _text),
    st.one_of(st.none(), _longs),
    st.one_of(st.none(), _doubles),
    st.one_of(st.none(), st.booleans()),
    st.one_of(st.none(), _dates),
    st.one_of(st.none(), _timestamps),
    st.one_of(st.none(), st.lists(_longs, max_size=4)),
    st.one_of(st.none(), st.tuples(st.one_of(st.none(), _text), st.one_of(st.none(), _doubles))),
)


def _normalize(row):
    """Expected parse result for a generated row: null-elision semantics
    turn a missing array into None and an all-null nested struct stays a
    struct of nulls only when the element was written."""
    s, l, d, b, dt, ts, arr, nested = row
    if ts is not None and ts.tzinfo is None:
        ts = ts  # naive in == naive out (UTC environment)
    if arr is not None and len(arr) == 0:
        arr = None  # zero elements -> nothing written -> null
    return (s, l, d, b, dt, ts, arr, nested)


@settings(max_examples=150, deadline=None)
@given(rows=st.lists(_row, min_size=1, max_size=8))
def test_roundtrip_property(rows):
    xo = XmlOptions.from_dict({"rowTag": "r", "rootTag": "rs"})
    doc = "\n".join(generator.rows_to_document(SCHEMA, rows, xo))
    recs = list(tokenizer.scan_string(doc, "r"))
    assert len(recs) == len(rows)
    for rec, row in zip(recs, rows):
        got = parser.parse_record(rec, SCHEMA, xo, mode="FAILFAST")
        expected = _normalize(row)
        assert len(got) == len(expected)
        for g, e, f in zip(got, expected, SCHEMA.fields):
            if isinstance(f.dataType, T.DoubleType) and e is not None:
                assert g == e or (math.isinf(e) and g == e)
            elif f.name == "nested" and e is not None:
                ge = tuple(g) if g is not None else None
                assert ge == tuple(e), f"nested: {ge!r} != {e!r}"
            else:
                assert g == e, f"{f.name}: {g!r} != {e!r}"


# --- split-boundary ownership property (S1's core invariant) -------------

_attr_text = st.text(
    alphabet=st.characters(
        min_codepoint=0x20, max_codepoint=0xFF,
        blacklist_characters='\x7f"<&',
    ),
    max_size=12,
)


@st.composite
def _record(draw):
    """One ROW record stressing the tokenizer: optional attribute (may
    contain a fake end tag), optional self-closing child, optional
    DIFFERENT-name nested element, variable body size. Self-nested
    same-name row tags are excluded: a split boundary landing between an
    outer <ROW> and a nested <ROW> makes the nested start tag claimable
    by the next split — the identical context-free-scan limitation as the
    reference (XmlInputFormat.scala:193-224); see
    test_split_nested_same_name_boundary_limitation."""
    i = draw(st.integers(0, 10**6))
    attr = draw(st.one_of(st.none(), _attr_text))
    attr_s = f' note="{attr}</ROW>"' if attr is not None else ""
    nested = draw(st.booleans())
    selfclose = draw(st.booleans())
    pad = "p" * draw(st.integers(0, 40))
    body = f"<v>{i}</v>{pad}"
    if nested:
        body += f"<inner a=\"x\"><w>{i}</w></inner>"
    if selfclose:
        body += "<e/>"
    return f"<ROW{attr_s}>{body}</ROW>"


@settings(max_examples=60, deadline=None)
@given(
    recs=st.lists(_record(), min_size=1, max_size=40),
    split_size=st.integers(min_value=16, max_value=4096),
)
def test_split_ownership_property(tmp_path_factory, recs, split_size):
    """EXACTLY-ONCE record ownership for every (document, split size):
    concatenating scan_split over plan_splits reproduces the record list
    regardless of where byte-range boundaries fall — including inside
    attributes containing fake end tags and nested same-name elements."""
    import tempfile, os

    doc = "<ROWS>\n" + "\n".join(recs) + "\n</ROWS>\n"
    fd, path = tempfile.mkstemp(suffix=".xml")
    try:
        with os.fdopen(fd, "w") as fh:
            fh.write(doc)
        splits = tokenizer.plan_splits(path, target_split_size=split_size)
        got = []
        for s in splits:
            got.extend(tokenizer.scan_split(s, "ROW"))
        assert got == recs, f"split_size={split_size} n_splits={len(splits)}"
    finally:
        os.unlink(path)


def test_split_nested_same_name_boundary_limitation(tmp_path):
    """PINNED LIMITATION (reference parity, XmlInputFormat.scala:193-224):
    a row tag nested inside ITSELF is depth-counted correctly when the
    enclosing record's start is owned by the same split, but a byte-range
    boundary between the outer and the nested start lets the next split
    claim the nested <ROW> as a record — context-free byte scanning
    cannot know the depth at an arbitrary offset. The safe contract is
    rowTag elements that do not self-nest (every format the reference's
    own test corpus uses)."""
    recs = ["<ROW><v>0</v></ROW>", '<ROW><v>1</v><ROW a="x"><w>1</w></ROW></ROW>']
    doc = "<ROWS>\n" + "\n".join(recs) + "\n</ROWS>\n"
    p = tmp_path / "nested.xml"
    p.write_text(doc)
    # single split: depth counter handles self-nesting -> exactly 2 records
    whole = tokenizer.plan_splits(str(p), target_split_size=10**9)
    got = [r for s in whole for r in tokenizer.scan_split(s, "ROW")]
    assert got == recs
    # adversarial tiny splits: the nested start can be (over-)claimed;
    # records are never LOST, only the nested fragment may be duplicated
    tiny = tokenizer.plan_splits(str(p), target_split_size=16)
    got = [r for s in tiny for r in tokenizer.scan_split(s, "ROW")]
    assert set(recs) <= set(got)
    assert set(got) - set(recs) <= {'<ROW a="x"><w>1</w></ROW>'}


# --- attr fast-path equivalence property -----------------------------------
# Random flat records whose root carries attributes: FastFlatParser (all
# three tiers) must agree with the generic parser exactly, including
# malformed/degenerate shapes, under several option sets.

_ATTR_SCHEMA = T.StructType(
    [
        T.StructField("_id", T.LongType()),
        T.StructField("_tag", T.StringType()),
        T.StructField("name", T.StringType()),
        T.StructField("price", T.DoubleType()),
    ]
)

_attr_text = st.text(
    alphabet=st.characters(
        min_codepoint=0x20,
        max_codepoint=0x2FF,
        blacklist_characters='\x7f"<&',
    ),
    max_size=12,
)


@st.composite
def _attr_record(draw):
    parts = ["<r"]
    if draw(st.booleans()):
        parts.append(f' id="{draw(st.integers(-99999, 99999))}"')
    if draw(st.booleans()):
        parts.append(f' tag="{draw(_attr_text)}"')
    if draw(st.booleans()):
        parts.append(f' extra="{draw(_attr_text)}"')
    parts.append(">")
    if draw(st.booleans()):
        parts.append(f"<name>{draw(_attr_text)}</name>")
    if draw(st.booleans()):
        parts.append(f"<price>{draw(st.floats(allow_nan=False, allow_infinity=False, width=32))}</price>")
    parts.append("</r>")
    return "".join(parts)


_ATTR_OPTION_SETS = [
    {},
    {"treatEmptyValuesAsNulls": "true"},
    {"ignoreSurroundingSpaces": "true"},
    {"excludeAttribute": "true"},
]


@settings(max_examples=120, deadline=None)
@given(
    recs=st.lists(_attr_record(), min_size=1, max_size=6),
    opt_idx=st.integers(0, len(_ATTR_OPTION_SETS) - 1),
)
def test_attr_fast_path_equivalence_property(recs, opt_idx):
    opts = XmlOptions.from_dict({"rowTag": "r", **_ATTR_OPTION_SETS[opt_idx]})
    fast = parser.FastFlatParser.try_build(_ATTR_SCHEMA, opts)
    assert fast is not None
    for _tier_pass in range(2):  # second pass exercises the learned pattern
        for rec in recs:
            got = parser.parse_record(rec, _ATTR_SCHEMA, opts, fast=fast)
            ref = parser.parse_record(rec, _ATTR_SCHEMA, opts, fast=None)
            assert got == ref, (rec, got, ref)


_STRUCT_SCHEMA = T.StructType(
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


@st.composite
def _struct_record(draw):
    parts = ["<r>"]
    if draw(st.booleans()):
        parts.append(f"<okey>{draw(st.integers(-9999, 9999))}</okey>")
    if draw(st.booleans()):
        attrs = ""
        if draw(st.booleans()):
            attrs += f' prio="{draw(_attr_text)}"'
        if draw(st.booleans()):
            attrs += f' junk="{draw(_attr_text)}"'
        body = draw(st.one_of(
            st.just(""),
            st.floats(allow_nan=False, allow_infinity=False, width=32).map(str),
            _attr_text,
        ))
        parts.append(f"<price{attrs}>{body}</price>")
    if draw(st.booleans()):
        parts.append(f"<note>{draw(_attr_text)}</note>")
    parts.append("</r>")
    return "".join(parts)


@settings(max_examples=120, deadline=None)
@given(recs=st.lists(_struct_record(), min_size=1, max_size=6))
def test_simple_struct_fast_path_equivalence_property(recs):
    """Attribute-only struct children (<price prio="X">12.3</price>) parse
    identically through the struct-mode learned pattern and the generic
    parser, including missing elements, empty bodies, unknown attributes
    (pattern miss -> generic), and malformed bodies (parse policy)."""
    opts = XmlOptions.from_dict({"rowTag": "r"})
    fast = parser.FastFlatParser.try_build(_STRUCT_SCHEMA, opts)
    assert fast is not None and fast.simple_structs
    for _tier_pass in range(2):
        for rec in recs:
            got = parser.parse_record(rec, _STRUCT_SCHEMA, opts, fast=fast)
            ref = parser.parse_record(rec, _STRUCT_SCHEMA, opts, fast=None)
            assert got == ref, (rec, got, ref)


_ARRAY_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("k", T.ArrayType(T.LongType())),
        T.StructField("tag", T.ArrayType(T.StringType())),
    ]
)


@st.composite
def _array_record(draw):
    parts = ["<r>"]
    items = []
    if draw(st.booleans()):
        items.append(f"<id>{draw(st.integers(-999, 999))}</id>")
    for _ in range(draw(st.integers(0, 4))):
        items.append(f"<k>{draw(st.integers(-999, 999))}</k>")
    for _ in range(draw(st.integers(0, 2))):
        items.append(f"<tag>{draw(_attr_text)}</tag>")
    draw(st.randoms(use_true_random=False)).shuffle(items)
    parts.extend(items)
    parts.append("</r>")
    return "".join(parts)


@settings(max_examples=120, deadline=None)
@given(recs=st.lists(_array_record(), min_size=1, max_size=6))
def test_array_fast_path_equivalence_property(recs):
    """Repeated-tag scalar arrays parse identically through the fast
    tiers (findall + expat) and the generic parser, in any interleaving."""
    opts = XmlOptions.from_dict({"rowTag": "r"})
    fast = parser.FastFlatParser.try_build(_ARRAY_SCHEMA, opts)
    assert fast is not None and fast.array_fields == {1, 2}
    for rec in recs:
        got = parser.parse_record(rec, _ARRAY_SCHEMA, opts, fast=fast)
        ref = parser.parse_record(rec, _ARRAY_SCHEMA, opts, fast=None)
        assert got == ref, (rec, got, ref)


# --- round 7: strict-pattern + fused-window equivalence --------------------

_flat_text = st.text(
    alphabet=st.characters(
        min_codepoint=0x20, max_codepoint=0x2FF,
        blacklist_characters="\x7f<>&",
    ),
    max_size=14,
)


@st.composite
def _flat_record(draw):
    """Flat records exercising the strict pattern's fallback edges:
    all-fields-present (strict hit), null-elided fields and inter-tag
    whitespace (strict miss -> optional), entities (row path)."""
    parts = ["<r>"]
    ws = draw(st.sampled_from(["", "", "", " ", "\n  "]))
    if draw(st.integers(0, 9)) > 0:  # usually present
        parts.append(f"{ws}<a>{draw(st.integers(-10**9, 10**9))}</a>")
    if draw(st.integers(0, 9)) > 0:
        txt = draw(_flat_text)
        if draw(st.integers(0, 19)) == 0:
            txt += "&amp;x"
        parts.append(f"{ws}<s>{txt}</s>")
    if draw(st.integers(0, 9)) > 0:
        parts.append(
            f"{ws}<d>{draw(st.floats(allow_nan=False, allow_infinity=False, width=32))}</d>"
        )
    parts.append(f"{ws}</r>")
    return "".join(parts)


_FLAT_SCHEMA = T.StructType(
    [
        T.StructField("a", T.LongType()),
        T.StructField("s", T.StringType()),
        T.StructField("d", T.DoubleType()),
    ]
)


@settings(max_examples=120, deadline=None)
@given(recs=st.lists(_flat_record(), min_size=1, max_size=8))
def test_strict_and_window_paths_equivalence_property(recs):
    """The strict-pattern collect, the optional-pattern collect, the fused
    window path, and the generic row path must produce identical Arrow
    tables on ANY flat record mix (present/missing fields, whitespace,
    entities)."""
    import os
    import tempfile

    import pyarrow as pa

    from spark_xml_spark.options import XmlOptions
    from spark_xml_spark.sources import datasource as D
    from spark_xml_spark.xmlcore import tokenizer as tok

    opts = XmlOptions.from_dict({"rowTag": "r"})

    # reference: generic row path via arrow conversion
    fix = D._tz_fixer(_FLAT_SCHEMA)
    rows = list(parser.parse_records(iter(recs), _FLAT_SCHEMA, opts))
    if fix:
        rows = [fix(r) for r in rows]
    ref = pa.Table.from_batches(
        list(D._rows_to_arrow_batches(iter(rows), _FLAT_SCHEMA, 256))
    )

    # record-based columnar (strict tried first internally)
    col = pa.Table.from_batches(
        list(D._columnar_batches(
            (("rec", r) for r in recs), _FLAT_SCHEMA, opts, 4, D._TierTally()
        ))
    )
    assert col.equals(ref)

    # fused window path over a real file with forced-small splits
    d = tempfile.mkdtemp()
    p = os.path.join(d, "t.xml")
    with open(p, "w") as fh:
        fh.write("<root>" + "".join(recs) + "</root>")

    def windows():
        for sp in tok.plan_splits(p, "utf-8", 64):
            yield from tok.scan_split_windows(sp, "r", "utf-8")

    win = list(D._columnar_batches(
        windows(), _FLAT_SCHEMA, opts, 4, D._TierTally()
    ))
    wt = pa.Table.from_batches(win) if win else ref.slice(0, 0)
    assert wt.equals(ref)


_CJK_TEXT = st.text(
    alphabet=st.sampled_from(
        # ASCII mixes with multi-byte chars whose trail bytes include
        # ASCII-letter values (Shift-JIS 0x40-0x7E trails) — the
        # adversarial byte-space for the '<'-aligned scanner
        list("abz09 .") + list("日本語テスト漢字能表ソ噂浬欺圭")
    ),
    min_size=0,
    max_size=12,
)


@settings(max_examples=60, deadline=None)
@given(
    texts=st.lists(_CJK_TEXT, min_size=1, max_size=30),
    split_size=st.integers(min_value=16, max_value=2048),
    charset=st.sampled_from(["shift_jis", "euc_jp", "gbk"]),
)
def test_cjk_lt_aligned_split_ownership_property(texts, split_size,
                                                 charset):
    """EXACTLY-ONCE ownership for the '<'-aligned multi-byte scanner:
    any (document, split size, CJK charset) reproduces the record list
    — boundaries landing inside multi-byte sequences, records starting
    at every offset, attribute values with fake closers."""
    import os
    import tempfile

    recs = []
    for i, t in enumerate(texts):
        try:
            t.encode(charset)
        except UnicodeEncodeError:
            t = "x"
        recs.append(f'<ROW a="v{i}"><b>{t}</b></ROW>')
    doc = "<ROWS>" + "".join(recs) + "</ROWS>"
    fd, path = tempfile.mkstemp(suffix=".xml")
    try:
        with os.fdopen(fd, "wb") as fh:
            fh.write(doc.encode(charset))
        splits = tokenizer.plan_splits(
            path, charset, target_split_size=split_size
        )
        got = []
        for s in splits:
            got.extend(tokenizer.scan_split(s, "ROW", charset))
        assert got == recs, (
            f"charset={charset} split_size={split_size} "
            f"n_splits={len(splits)}"
        )
    finally:
        os.unlink(path)
