"""Spark-free pass over one input file per workload: times the public
functions of each ``xmlcore`` layer on the workload's own data, in the
benchmark's process. Used by traced runs only.
"""

from __future__ import annotations

import os
import statistics
import time
import xml.etree.ElementTree as ET
from typing import List, Tuple

from pyspark.sql import types as T

from spark_xml_spark.options import XmlOptions
from spark_xml_spark.xmlcore import casts, generator, infer, parser, tokenizer

_SCALARS = (T.StringType, T.LongType, T.IntegerType, T.DoubleType,
            T.BooleanType, T.DateType, T.TimestampType, T.DecimalType)


def _leaf_values(elem, schema: T.StructType, opts: XmlOptions,
                 out: List[Tuple[str, T.DataType]]) -> None:
    """Collect (text, type) for every scalar the schema maps onto
    ``elem``: attributes, valueTag text and child elements."""
    pre = opts.attribute_prefix
    for f in schema.fields:
        dt = f.dataType
        if f.name == opts.value_tag:
            if elem.text is not None and isinstance(dt, _SCALARS):
                out.append((elem.text, dt))
        elif f.name.startswith(pre):
            v = elem.get(f.name[len(pre):])
            if v is not None and isinstance(dt, _SCALARS):
                out.append((v, dt))
        else:
            inner = dt.elementType if isinstance(dt, T.ArrayType) else dt
            for child in elem.findall(f.name):
                if isinstance(inner, T.StructType):
                    _leaf_values(child, inner, opts, out)
                elif child.text is not None and isinstance(inner, _SCALARS):
                    out.append((child.text, inner))


def _rate(n: float, secs: float) -> float:
    return n / secs if secs > 0 else 0.0


def probe(sample_path: str, schema: T.StructType, row_tag: str,
          max_records: int) -> dict:
    """Layer yardsticks on ``sample_path``; split planning covers every
    file in its directory. At most ``max_records`` records go through the
    per-record layers, so the pass stays a few seconds."""
    opts = XmlOptions.from_dict({"rowTag": row_tag})
    size = os.path.getsize(sample_path)

    plan_times = []
    for _ in range(5):
        t0 = time.perf_counter()
        tokenizer.plan_splits(os.path.dirname(sample_path), opts.charset)
        plan_times.append(time.perf_counter() - t0)

    split = tokenizer.FileSplit(sample_path, 0, size)
    t0 = time.perf_counter()
    in_windows = in_records = 0
    records: List[str] = []
    for item in tokenizer.scan_split_windows(split, row_tag, opts.charset):
        if item[0] == "win":
            in_windows += len(item[2])
            if len(records) < max_records:
                text = item[1]
                records.extend(text[s:e] for s, e in item[2])
        else:
            in_records += 1
            if len(records) < max_records:
                records.append(item[1])
    scan_s = time.perf_counter() - t0
    records = records[:max_records]

    t0 = time.perf_counter()
    infer.infer_schema_from_records(records, opts)
    infer_s = time.perf_counter() - t0

    t0 = time.perf_counter()
    rows = list(parser.parse_records(records, schema, opts))
    parse_s = time.perf_counter() - t0

    values: List[Tuple[str, T.DataType]] = []
    for rec in records:
        _leaf_values(ET.fromstring(rec), schema, opts, values)
    t0 = time.perf_counter()
    for text, dt in values:
        casts.cast_to(text, dt, opts)
    cast_s = time.perf_counter() - t0

    t0 = time.perf_counter()
    out_chars = sum(len(s) for s in generator.rows_to_document(schema, rows, opts))
    gen_s = time.perf_counter() - t0

    total = in_windows + in_records
    return {
        "xmlcore.tokenizer.plan_splits_s": statistics.median(plan_times),
        "xmlcore.tokenizer.mb_per_s": _rate(size / 1e6, scan_s),
        "xmlcore.tokenizer.window_share": in_windows / total if total else 0.0,
        "xmlcore.infer.records_per_s": _rate(len(records), infer_s),
        "xmlcore.parser.records_per_s": _rate(len(records), parse_s),
        "xmlcore.parser.fast_flat": float(
            parser.FastFlatParser.try_build(schema, opts) is not None),
        "xmlcore.casts.values_per_s": _rate(len(values), cast_s),
        "xmlcore.generator.mb_per_s": _rate(out_chars / 1e6, gen_s),
    }
