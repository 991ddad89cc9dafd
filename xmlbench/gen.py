"""Seeded input generator for the XML engine benchmark.

Every input the benchmark feeds the engine is written here, from the seed
alone, together with the exact results each timed action must return
(the ground truth). Nothing in this module imports ``spark_xml_spark``: a
change to the program under test must not change its own inputs.

The flat corpus is rendered column-wise with pyarrow compute kernels so a
few hundred MB costs about a second; the nested shapes are small and are
rendered record by record.
"""

from __future__ import annotations

import os
import random
import zlib
from typing import Dict, List

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

# ---------------------------------------------------------------- flat corpus

FLAT_ROW_TAG = "item"
FLAT_SCHEMA = (
    "orderkey long, partkey long, qty long, price double, disc double, "
    "tax double, rflag string, lstatus string, shipdate date, comment string"
)
# Q1 keeps rows shipped on or before this day (days since 1970-01-01)
Q1_CUTOFF = "1998-09-02"
_Q1_CUTOFF_DAY = 10471
PRUNED_COLUMNS = ["orderkey", "qty", "shipdate"]
PRUNED_MIN_QTY = 48
TOPK = 10

_WORDS = [
    "alpha", "bravo", "carbon", "delta", "ember", "fjord", "gamma", "harbor",
    "ivory", "jade", "kelp", "lunar", "maple", "nickel", "onyx", "pearl",
    "quartz", "raven", "sable", "tundra", "umber", "violet", "willow", "xenon",
    "yarrow", "zephyr", "slyly", "final", "ironic", "pending", "express",
    "deposits", "requests", "accounts", "packages", "furiously",
]


def _str(a) -> pa.Array:
    return pc.cast(pa.array(a), pa.string())


def _cents_str(cents: np.ndarray) -> pa.Array:
    """Integer hundredths -> "123.45" strings (always two decimals)."""
    return pc.binary_join_element_wise(
        _str(cents // 100),
        pc.utf8_lpad(_str(cents % 100), 2, "0"),
        ".",
    )


def _write_utf8_rows(path: str, rows: pa.Array, head: bytes, tail: bytes) -> int:
    """Write a string array whose elements already end in a newline as one
    document: the contiguous value buffer goes out in a single write."""
    offs = np.frombuffer(rows.buffers()[1], dtype=np.int32,
                         count=len(rows) + 1, offset=rows.offset * 4)
    data = rows.buffers()[2]
    body = memoryview(data)[offs[0]:offs[-1]]
    with open(path, "wb") as fh:
        fh.write(head)
        fh.write(body)
        fh.write(tail)
    return len(head) + len(body) + len(tail)


def make_flat(out_dir: str, seed: int, n_files: int, rows_per_file: int) -> dict:
    """Flat, all-scalar, attribute-free lineitem-shaped records, spread over
    ``n_files`` documents. Returns the ground truth of every flat_scan
    action."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n = n_files * rows_per_file
    orderkey = np.arange(1, n + 1, dtype=np.int64)
    partkey = rng.integers(1, 200_000, n)
    qty = rng.integers(1, 51, n)
    price_c = rng.integers(90_000, 10_500_000, n)   # cents
    disc_c = rng.integers(0, 11, n)                  # hundredths
    tax_c = rng.integers(0, 9, n)                    # hundredths
    rflag_i = rng.integers(0, 3, n)
    lstatus_i = rng.integers(0, 2, n)
    ship = rng.integers(8036, 10561, n).astype(np.int32)  # 1992-01-02..1998-12-01
    words = pa.array(_WORDS)
    wlen = np.array([len(w) for w in _WORDS])
    w1, w2, w3 = (rng.integers(0, len(_WORDS), n) for _ in range(3))

    rflags = np.array(["A", "N", "R"])
    lstatuses = np.array(["F", "O"])
    rows = pc.binary_join_element_wise(
        "<item><orderkey>", _str(orderkey),
        "</orderkey><partkey>", _str(partkey),
        "</partkey><qty>", _str(qty),
        "</qty><price>", _cents_str(price_c),
        "</price><disc>", _cents_str(disc_c),
        "</disc><tax>", _cents_str(tax_c),
        "</tax><rflag>", pa.array(rflags).take(pa.array(rflag_i)),
        "</rflag><lstatus>", pa.array(lstatuses).take(pa.array(lstatus_i)),
        "</lstatus><shipdate>", pc.cast(pa.array(ship, pa.date32()), pa.string()),
        "</shipdate><comment>",
        pc.binary_join_element_wise(
            words.take(pa.array(w1)), words.take(pa.array(w2)),
            words.take(pa.array(w3)), " "),
        "</comment></item>\n",
        "",
    )
    head = b'<?xml version="1.0" encoding="UTF-8"?>\n<items>\n'
    tail = b"</items>\n"
    nbytes = 0
    for i in range(n_files):
        part = rows.slice(i * rows_per_file, rows_per_file)
        nbytes += _write_utf8_rows(
            os.path.join(out_dir, f"part-{i:03d}.xml"), part, head, tail)

    price = price_c / 100.0
    disc = disc_c / 100.0
    comment_len = wlen[w1] + wlen[w2] + wlen[w3] + 2
    truth: dict = {
        "bytes": nbytes,
        "full_scan": {
            "count": int(n),
            "sum_orderkey": int(orderkey.sum()),
            "sum_partkey": int(partkey.sum()),
            "sum_qty": int(qty.sum()),
            "sum_price": float(price_c.sum()) / 100.0,
            "sum_disc": float(disc_c.sum()) / 100.0,
            "sum_tax": float(tax_c.sum()) / 100.0,
            "sum_flag_len": int(n * 2),
            "max_shipdate": int(ship.max()),
            "sum_comment_len": int(comment_len.sum()),
        },
    }
    keep = qty >= PRUNED_MIN_QTY
    truth["pruned_filter"] = {
        "count": int(keep.sum()),
        "sum_orderkey": int(orderkey[keep].sum()),
    }
    q1 = {}
    live = ship <= _Q1_CUTOFF_DAY
    for fi, f in enumerate(rflags):
        for si, s in enumerate(lstatuses):
            m = live & (rflag_i == fi) & (lstatus_i == si)
            if m.any():
                q1[f"{f}|{s}"] = {
                    "count": int(m.sum()),
                    "sum_qty": int(qty[m].sum()),
                    "sum_price": float(price_c[m].sum()) / 100.0,
                    "sum_disc_price": float((price[m] * (1 - disc[m])).sum()),
                }
    truth["q1"] = q1
    order = np.lexsort((orderkey, -price_c))[:TOPK]
    truth["topk"] = [[int(orderkey[i]), float(price[i])] for i in order]
    return truth


# -------------------------------------------------------------- nested orders

NESTED_ROW_TAG = "order"
NESTED_SCHEMA = (
    "struct<_id:bigint,_region:string,"
    "customer:struct<_tier:string,city:string,name:string>,"
    "item:array<struct<_qty:bigint,_sku:string,"
    "price:struct<_VALUE:double,_currency:string>>>,"
    "note:struct<_VALUE:string,_lang:string>,total:double>"
)
_REGIONS = ["EU", "NA", "APAC", "LATAM"]
_TIERS = ["gold", "silver", "bronze"]
_CURRENCIES = ["EUR", "USD", "JPY", "GBP"]
_CITIES = ["Paris", "Lyon", "Osaka", "Austin", "Leeds", "Porto", "Quito"]
_NAMES = ["Ann", "Bo", "Cyd", "Dee", "Eli", "Fay", "Gus", "Hal", "Ivy"]


def make_nested(out_dir: str, seed: int, n_files: int, rows_per_file: int) -> dict:
    """Attribute-bearing nested orders: row attributes, a struct child, a
    repeated array of structs with attributes, valueTag text with an
    attribute, and optional fields."""
    os.makedirs(out_dir, exist_ok=True)
    rnd = random.Random(seed)
    by_cur = {c: [0, 0, 0] for c in _CURRENCIES}   # items, qty, price cents
    gold = [0, 0, 0]                               # rows, total cents, notes
    nbytes = 0
    oid = 0
    for fi in range(n_files):
        out = ['<?xml version="1.0" encoding="UTF-8"?>\n<orders>\n']
        for r in range(rows_per_file):
            oid += 1
            tier = rnd.choice(_TIERS)
            parts = [
                f'<order id="{oid}" region="{rnd.choice(_REGIONS)}">'
                f'<customer tier="{tier}"><name>{rnd.choice(_NAMES)}</name>'
                f'<city>{rnd.choice(_CITIES)}</city></customer>'
            ]
            # the first record of each file repeats <item>, so every file
            # alone already infers item as an array
            for _ in range(rnd.randint(2 if r == 0 else 1, 5)):
                q = rnd.randint(1, 9)
                cur = rnd.choice(_CURRENCIES)
                cents = rnd.randint(100, 99_999)
                acc = by_cur[cur]
                acc[0] += 1
                acc[1] += q
                acc[2] += cents
                parts.append(
                    f'<item sku="S{rnd.randint(1, 9999)}" qty="{q}">'
                    f'<price currency="{cur}">{cents // 100}.{cents % 100:02d}'
                    '</price></item>'
                )
            has_note = r == 0 or rnd.random() < 0.7
            if has_note:
                parts.append(
                    f'<note lang="{rnd.choice(["en", "fr", "ja"])}">'
                    f'{" ".join(rnd.choice(_WORDS) for _ in range(6))}</note>'
                )
            total = None
            if r == 0 or rnd.random() < 0.9:
                total = rnd.randint(100, 999_999)
                parts.append(f"<total>{total // 100}.{total % 100:02d}</total>")
            parts.append("</order>\n")
            out.append("".join(parts))
            if tier == "gold":
                gold[0] += 1
                gold[1] += total or 0
                gold[2] += has_note
        out.append("</orders>\n")
        data = "".join(out).encode()
        with open(os.path.join(out_dir, f"orders-{fi:02d}.xml"), "wb") as fh:
            fh.write(data)
        nbytes += len(data)
    return {
        "bytes": nbytes,
        "schema": NESTED_SCHEMA,
        "explode_agg": {
            c: {"items": v[0], "sum_qty": v[1], "sum_price": v[2] / 100.0}
            for c, v in by_cur.items() if v[0]
        },
        "gold_filter": {
            "count": gold[0], "sum_total": gold[1] / 100.0, "notes": gold[2],
        },
    }


# ------------------------------------------------------ write/from_xml source

RT_ROW_TAG = "rec"
RT_SCHEMA = (
    "_id long, name string, score double, "
    "addr struct<_zip: string, city: string>, "
    "item array<struct<_sku: string, qty: long>>, tags array<string>"
)
_RT_ARROW = pa.schema([
    ("_id", pa.int64()),
    ("name", pa.string()),
    ("score", pa.float64()),
    ("addr", pa.struct([("_zip", pa.string()), ("city", pa.string())])),
    ("item", pa.list_(pa.struct([("_sku", pa.string()), ("qty", pa.int64())]))),
    ("tags", pa.list_(pa.string())),
    ("frag", pa.string()),
])


def render_rt(row: dict) -> str:
    """The XML fragment the spark-xml writer layout gives one round-trip
    row: attributes first, elements in schema order, arrays as repeated
    elements, doubles in shortest round-trip form."""
    items = "".join(
        f'<item sku="{it["_sku"]}"><qty>{it["qty"]}</qty></item>'
        for it in row["item"]
    )
    tags = "".join(f"<tags>{t}</tags>" for t in row["tags"])
    return (
        f'<{RT_ROW_TAG} id="{row["_id"]}"><name>{row["name"]}</name>'
        f'<score>{row["score"]!r}</score>'
        f'<addr zip="{row["addr"]["_zip"]}"><city>{row["addr"]["city"]}'
        f"</city></addr>{items}{tags}</{RT_ROW_TAG}>"
    )


def make_roundtrip(out_dir: str, seed: int, n_files: int, rows_per_file: int) -> dict:
    """Parquet source for write_xml / to_xml / from_xml. The ``frag``
    column holds each row rendered as an XML fragment, so from_xml parses
    back exactly the rows to_xml serialises."""
    os.makedirs(out_dir, exist_ok=True)
    rnd = random.Random(seed)
    truth = {"rows": 0, "sum_id": 0, "sum_qty": 0, "items": 0, "tags": 0,
             "sum_score": 0.0, "frag_bytes": 0, "frag_crc_sum": 0}
    rid = 0
    for fi in range(n_files):
        cols: Dict[str, List] = {f.name: [] for f in _RT_ARROW}
        for _ in range(rows_per_file):
            rid += 1
            row = {
                "_id": rid,
                "name": " ".join(rnd.choice(_NAMES) for _ in range(2)),
                "score": rnd.randint(0, 99_999) / 100.0,
                "addr": {"_zip": f"{rnd.randint(10000, 99999)}",
                         "city": rnd.choice(_CITIES)},
                "item": [{"_sku": f"S{rnd.randint(1, 9999)}",
                          "qty": rnd.randint(1, 9)}
                         for _ in range(rnd.randint(1, 4))],
                "tags": [rnd.choice(_WORDS) for _ in range(rnd.randint(1, 3))],
            }
            frag = render_rt(row)
            row["frag"] = frag
            for k, v in row.items():
                cols[k].append(v)
            fb = frag.encode()
            truth["rows"] += 1
            truth["sum_id"] += rid
            truth["sum_qty"] += sum(it["qty"] for it in row["item"])
            truth["items"] += len(row["item"])
            truth["tags"] += len(row["tags"])
            truth["sum_score"] += row["score"]
            truth["frag_bytes"] += len(fb)
            truth["frag_crc_sum"] += zlib.crc32(fb)
        pq.write_table(pa.table(cols, schema=_RT_ARROW),
                       os.path.join(out_dir, f"src-{fi:02d}.parquet"))
    return truth


# ---------------------------------------------------------------- stream files

STREAM_ROW_TAG = "ev"
STREAM_SCHEMA = "seq long, k long, v long"


def render_stream_file(seq: int, rows: int, seed: int) -> bytes:
    """One small flat document; every record carries the file's sequence
    number, so each micro-batch can say which files it committed."""
    rnd = random.Random(seed * 1_000_003 + seq)
    body = "".join(
        f"<ev><seq>{seq}</seq><k>{k}</k><v>{rnd.randint(0, 999)}</v></ev>\n"
        for k in range(rows)
    )
    return f"<evs>\n{body}</evs>\n".encode()


def stream_file_truth(data: bytes) -> int:
    """Sum of the ``v`` fields of one stream file, read back with the
    stdlib parser."""
    import xml.etree.ElementTree as ET

    return sum(int(e.findtext("v")) for e in ET.fromstring(data).iter("ev"))
