"""The three workloads. Each one generates its inputs from the seed (see
``gen``), runs its actions through the program's public API, and checks
every result against the ground truth the generator recorded.

A workload's ``cycle`` runs each of its actions once and returns one
``Outcome`` per action. ``StreamProbe`` is the open-loop stream pass that
flat_scan's traced run adds for the streaming layer.
"""

from __future__ import annotations

import datetime as _dt
import os
import shutil
import sys
import threading
import time
import traceback
import xml.etree.ElementTree as ET
from dataclasses import dataclass
from typing import Callable, Dict, List

from pyspark.sql import functions as F
from pyspark.sql import types as T

from spark_xml_spark.functions import from_xml, to_xml
from spark_xml_spark.sources import infer_xml_schema, read_xml, write_xml

import gen

REL_TOL = 1e-9
_EPOCH = _dt.date(1970, 1, 1)


@dataclass
class Outcome:
    name: str
    wall_s: float      # action wall, or landing-to-commit latency for a file
    nbytes: int        # XML bytes the action read, wrote or parsed
    ok: bool
    why: str = ""


def _close(got, want) -> bool:
    if got is None:
        return False
    return abs(float(got) - float(want)) <= REL_TOL * max(1.0, abs(float(want)))


def _compare(got: dict, want: dict) -> str:
    """Empty string when every key matches (ints exactly, floats within
    REL_TOL), else a description of the first difference."""
    for key, w in want.items():
        g = got.get(key)
        ok = _close(g, w) if isinstance(w, float) else g == w
        if not ok:
            return f"{key}: got {g!r}, want {w!r}"
    return ""


def _scaled(n: int, scale: float, floor: int) -> int:
    return max(floor, int(round(n * scale)))


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(path, f)) for f in os.listdir(path)
               if os.path.isfile(os.path.join(path, f)))


class Workload:
    """Shared shape: inputs under ``work``, ``generate`` to write them with
    their ground truth, ``cycle`` to run every action once, and
    ``run_action`` to time and check one action."""

    name = ""

    def __init__(self, work: str, seed: int, scale: float):
        self.work = work
        self.seed = seed
        self.scale = scale
        self.truth: dict = {}
        self.input_dir = ""
        self.sample_path = ""
        self.schema_ddl = ""
        self.row_tag = ""

    # -- set-up ---------------------------------------------------------
    def generate(self) -> None:
        raise NotImplementedError

    def corrupt_truth(self) -> None:
        raise NotImplementedError

    # -- timed section --------------------------------------------------
    def cycle(self, spark, tr) -> List[Outcome]:
        raise NotImplementedError

    @staticmethod
    def run_action(spark, tr, name: str, nbytes: int,
                   act: Callable[[], tuple], check: Callable[[object], str]
                   ) -> Outcome:
        """Time ``act`` (which returns ``(result, dataframe_or_None)``),
        then check the result outside the timed span."""
        t0 = time.perf_counter()
        try:
            with tr.action(spark, name):
                result, df = act()
            wall = time.perf_counter() - t0
        except Exception:  # a failed action is counted, not fatal
            traceback.print_exc(file=sys.stderr)
            return Outcome(name, time.perf_counter() - t0, nbytes, False,
                           "raised")
        if df is not None:
            tr.add_plan(df)
        try:
            why = check(result)
        except Exception as e:  # malformed result shape
            why = f"check raised {e!r}"
        if why:
            print(f"# {name} wrong: {why}", file=sys.stderr)
        return Outcome(name, wall, nbytes, not why, why)


# ------------------------------------------------------------------ flat_scan


class FlatScan(Workload):
    """Multi-file flat corpus, user-supplied schema: full scan, pruned
    projection with a filter, Q1-shape aggregate and a top-k."""

    name = "flat_scan"

    def generate(self) -> None:
        self.input_dir = os.path.join(self.work, "flat")
        self.row_tag = gen.FLAT_ROW_TAG
        self.schema_ddl = gen.FLAT_SCHEMA
        n_files = _scaled(30, self.scale, 2)
        self.truth = gen.make_flat(self.input_dir, self.seed, n_files,
                                   _scaled(25_000, self.scale, 200))
        self.sample_path = os.path.join(self.input_dir, "part-000.xml")

    def corrupt_truth(self) -> None:
        self.truth["full_scan"]["count"] += 1

    def cycle(self, spark, tr) -> List[Outcome]:
        def read(**kw):
            with tr.span("sources.api.read_xml"):
                return read_xml(spark, self.input_dir, schema=schema,
                                rowTag=self.row_tag, **kw)

        schema = T._parse_datatype_string(self.schema_ddl)
        nbytes = self.truth["bytes"]
        truth = self.truth
        out = []

        def full_scan():
            df = read().agg(
                F.count("*").alias("count"),
                F.sum("orderkey").alias("sum_orderkey"),
                F.sum("partkey").alias("sum_partkey"),
                F.sum("qty").alias("sum_qty"),
                F.sum("price").alias("sum_price"),
                F.sum("disc").alias("sum_disc"),
                F.sum("tax").alias("sum_tax"),
                F.sum(F.length("rflag") + F.length("lstatus")).alias("sum_flag_len"),
                F.max("shipdate").alias("max_shipdate"),
                F.sum(F.length("comment")).alias("sum_comment_len"),
            )
            return df.collect()[0].asDict(), df

        def check_full(got):
            got = dict(got, max_shipdate=(got["max_shipdate"] - _EPOCH).days)
            return _compare(got, truth["full_scan"])

        out.append(self.run_action(spark, tr, "full_scan", nbytes, full_scan,
                                   check_full))

        def pruned():
            df = (read(columns=gen.PRUNED_COLUMNS)
                  .filter(F.col("qty") >= gen.PRUNED_MIN_QTY)
                  .agg(F.count("*").alias("count"),
                       F.sum("orderkey").alias("sum_orderkey")))
            return df.collect()[0].asDict(), df

        out.append(self.run_action(
            spark, tr, "pruned_filter", nbytes, pruned,
            lambda got: _compare(got, truth["pruned_filter"])))

        def q1():
            df = (read()
                  .filter(F.col("shipdate") <= F.lit(gen.Q1_CUTOFF).cast("date"))
                  .groupBy("rflag", "lstatus")
                  .agg(F.count("*").alias("count"),
                       F.sum("qty").alias("sum_qty"),
                       F.sum("price").alias("sum_price"),
                       F.sum(F.col("price") * (1 - F.col("disc")))
                       .alias("sum_disc_price")))
            rows = df.collect()
            return {f"{r.rflag}|{r.lstatus}": r.asDict() for r in rows}, df

        def check_q1(got):
            if set(got) != set(truth["q1"]):
                return f"groups {sorted(got)} != {sorted(truth['q1'])}"
            for key, want in truth["q1"].items():
                why = _compare(got[key], want)
                if why:
                    return f"{key} {why}"
            return ""

        out.append(self.run_action(spark, tr, "q1_aggregate", nbytes, q1,
                                   check_q1))

        def topk():
            df = (read()
                  .orderBy(F.desc("price"), F.asc("orderkey"))
                  .limit(gen.TOPK).select("orderkey", "price"))
            return [[r.orderkey, r.price] for r in df.collect()], df

        def check_topk(got):
            want = truth["topk"]
            if len(got) != len(want) or any(
                    g[0] != w[0] or not _close(g[1], w[1])
                    for g, w in zip(got, want)):
                return f"got {got}, want {want}"
            return ""

        out.append(self.run_action(spark, tr, "top_k", nbytes, topk,
                                   check_topk))
        return out


# --------------------------------------------------------------- nested_infer


class NestedInfer(Workload):
    """Attribute-bearing nested records: inferred schema, explode plus
    aggregate, and a filter on a struct field."""

    name = "nested_infer"

    def generate(self) -> None:
        self.input_dir = os.path.join(self.work, "nested")
        self.row_tag = gen.NESTED_ROW_TAG
        self.schema_ddl = gen.NESTED_SCHEMA
        self.truth = gen.make_nested(self.input_dir, self.seed,
                                     _scaled(12, self.scale, 2),
                                     _scaled(1_000, self.scale, 40))
        self.sample_path = os.path.join(self.input_dir, "orders-00.xml")

    def corrupt_truth(self) -> None:
        self.truth["gold_filter"]["count"] += 1

    def cycle(self, spark, tr) -> List[Outcome]:
        nbytes = self.truth["bytes"]
        truth = self.truth
        inferred: Dict[str, T.StructType] = {}
        out = []

        def infer():
            with tr.span("sources.api.infer_xml_schema"):
                schema = infer_xml_schema(spark, self.input_dir,
                                          rowTag=self.row_tag)
            inferred["schema"] = schema
            return schema.simpleString(), None

        out.append(self.run_action(
            spark, tr, "infer_schema", nbytes, infer,
            lambda got: "" if got == truth["schema"]
            else f"schema {got} != {truth['schema']}"))
        # a wrong inference is already counted; the scans below still run
        # on the expected schema so each action is judged on its own
        schema = (inferred["schema"] if out[-1].ok
                  else T._parse_datatype_string(truth["schema"]))

        def read():
            with tr.span("sources.api.read_xml"):
                return read_xml(spark, self.input_dir, schema=schema,
                                rowTag=self.row_tag)

        def explode_agg():
            df = (read().select(F.explode("item").alias("it"))
                  .groupBy(F.col("it.price._currency").alias("cur"))
                  .agg(F.count("*").alias("items"),
                       F.sum("it._qty").alias("sum_qty"),
                       F.sum("it.price._VALUE").alias("sum_price")))
            return {r.cur: r.asDict() for r in df.collect()}, df

        def check_explode(got):
            want = truth["explode_agg"]
            if set(got) != set(want):
                return f"currencies {sorted(got)} != {sorted(want)}"
            for cur, w in want.items():
                why = _compare(got[cur], w)
                if why:
                    return f"{cur} {why}"
            return ""

        out.append(self.run_action(spark, tr, "explode_agg", nbytes,
                                   explode_agg, check_explode))

        def gold():
            df = (read().filter(F.col("customer._tier") == "gold")
                  .agg(F.count("*").alias("count"),
                       F.sum("total").alias("sum_total"),
                       F.count("note").alias("notes")))
            return df.collect()[0].asDict(), df

        out.append(self.run_action(
            spark, tr, "struct_filter", nbytes, gold,
            lambda got: _compare(got, truth["gold_filter"])))
        return out


# ------------------------------------------------------------ write_roundtrip


def check_written_xml(out_dir: str, truth: dict) -> str:
    """Read write_xml's output back with the stdlib parser (never with the
    program's own reader) and compare it with the source's ground truth."""
    got = {"rows": 0, "sum_id": 0, "sum_qty": 0, "items": 0, "tags": 0,
           "sum_score": 0.0}
    for name in sorted(os.listdir(out_dir)):
        if name.startswith(("_", ".")):
            continue
        for _, el in ET.iterparse(os.path.join(out_dir, name)):
            if el.tag != gen.RT_ROW_TAG:
                continue
            got["rows"] += 1
            got["sum_id"] += int(el.get("id"))
            items = el.findall("item")
            got["items"] += len(items)
            got["sum_qty"] += sum(int(i.findtext("qty")) for i in items)
            got["tags"] += len(el.findall("tags"))
            got["sum_score"] += float(el.findtext("score"))
            el.clear()
    return _compare(got, {k: truth[k] for k in got})


class WriteRoundtrip(Workload):
    """Parquet source (never read as XML): write_xml of nested rows,
    to_xml over a struct column, from_xml over a column of fragments."""

    name = "write_roundtrip"

    def generate(self) -> None:
        self.input_dir = os.path.join(self.work, "rt_src")
        self.row_tag = gen.RT_ROW_TAG
        self.schema_ddl = gen.RT_SCHEMA
        self.truth = gen.make_roundtrip(self.input_dir, self.seed,
                                        _scaled(4, self.scale, 2),
                                        _scaled(15_000, self.scale, 150))
        # the fragments as one document: the layer pass's sample
        self.sample_path = os.path.join(self.work, "rt_sample", "sample.xml")
        os.makedirs(os.path.dirname(self.sample_path), exist_ok=True)
        import pyarrow.parquet as pq

        frags = pq.read_table(os.path.join(self.input_dir, "src-00.parquet"),
                              columns=["frag"]).column("frag").to_pylist()
        with open(self.sample_path, "w") as fh:
            fh.write("<recs>\n" + "\n".join(frags) + "\n</recs>\n")

    def corrupt_truth(self) -> None:
        self.truth["sum_qty"] += 1

    def cycle(self, spark, tr) -> List[Outcome]:
        truth = self.truth
        src = spark.read.parquet(self.input_dir)
        cols = [c for c in src.columns if c != "frag"]
        rows_df = src.select(*cols)
        schema = rows_df.schema
        out_dir = os.path.join(self.work, "rt_out")
        opts = {"rowTag": self.row_tag}
        out = []

        def write():
            with tr.span("sources.api.write_xml"):
                write_xml(rows_df, out_dir, rowTag=self.row_tag,
                          rootTag=self.row_tag + "s")
            return None, None

        o = self.run_action(spark, tr, "write_xml", 0, write, lambda _: "")
        if o.ok:
            o.nbytes = _dir_bytes(out_dir)
            o.why = check_written_xml(out_dir, truth)
            o.ok = not o.why
            if o.why:
                print(f"# write_xml wrong: {o.why}", file=sys.stderr)
        out.append(o)

        def to_xml_action():
            with tr.span("functions.xml_functions.to_xml"):
                df = (src.select(to_xml(F.struct(*cols), schema, opts).alias("x"))
                      .agg(F.count("x").alias("rows"),
                           F.sum(F.crc32(F.col("x").cast("binary")))
                           .alias("frag_crc_sum"),
                           F.sum(F.length("x")).alias("frag_bytes")))
                return df.collect()[0].asDict(), df

        out.append(self.run_action(
            spark, tr, "to_xml", truth["frag_bytes"], to_xml_action,
            lambda got: _compare(got, {k: truth[k] for k in
                                       ("rows", "frag_crc_sum", "frag_bytes")})))

        def from_xml_action():
            with tr.span("functions.xml_functions.from_xml"):
                p = F.col("p")
                df = (src.select(from_xml("frag", schema, opts).alias("p"))
                      .agg(F.count("p").alias("rows"),
                           F.sum(p["_id"]).alias("sum_id"),
                           F.sum(F.aggregate(p["item"], F.lit(0).cast("long"),
                                             lambda acc, x: acc + x["qty"]))
                           .alias("sum_qty"),
                           F.sum(F.size(p["item"])).alias("items"),
                           F.sum(F.size(p["tags"])).alias("tags"),
                           F.sum(p["score"]).alias("sum_score")))
                return df.collect()[0].asDict(), df

        out.append(self.run_action(
            spark, tr, "from_xml", truth["frag_bytes"], from_xml_action,
            lambda got: _compare(got, {k: truth[k] for k in got})))
        return out


# --------------------------------------------------------------- stream probe


@dataclass
class StreamRun:
    """What one open-loop stream pass observed."""

    outcomes: List[Outcome]   # one per file; wall_s is landing-to-commit
    max_lag_s: float
    progress: List[dict]
    files: int


class StreamProbe:
    """Open loop over the streaming source, for the per-layer metrics: small
    flat files land by atomic rename on a fixed schedule; a capped
    xml-graft stream feeds a foreachBatch sink that stamps when each file
    is committed and checks its rows against the generator's truth."""

    RATE = 10.0          # files per second
    MAX_FILES = 20       # maxFilesPerTrigger
    ROWS = 50            # records per file

    def __init__(self, work: str, seed: int, n_files: int):
        self.base = os.path.join(work, "stream")
        self.seed = seed
        self.files = [gen.render_stream_file(i, self.ROWS, seed)
                      for i in range(1, n_files + 1)]
        self.truth = {i: (self.ROWS, gen.stream_file_truth(b))
                      for i, b in enumerate(self.files, start=1)}

    def run(self, spark, tr) -> StreamRun:
        land, stage, ckpt = (os.path.join(self.base, d)
                             for d in ("in", "stage", "ckpt"))
        for d in (land, stage):
            os.makedirs(d)
        lock = threading.Lock()
        seen: Dict[int, List[tuple]] = {}   # seq -> [(commit_t, rows, sum_v)]

        def sink(batch_df, batch_id):
            sel = batch_df.select("seq", "v")
            rows = sel.collect()
            t = time.time()
            per: Dict[int, List[int]] = {}
            for r in rows:
                acc = per.setdefault(r.seq, [0, 0])
                acc[0] += 1
                acc[1] += r.v
            with lock:
                for seq, (n, s) in per.items():
                    seen.setdefault(seq, []).append((t, n, s))
            tr.add_plan(sel)

        query = (
            spark.readStream.format("xml-graft")
            .schema(gen.STREAM_SCHEMA)
            .option("rowTag", gen.STREAM_ROW_TAG)
            .option("path", land)
            .option("maxFilesPerTrigger", str(self.MAX_FILES))
            # the reader needs the checkpoint too, or the cap is not
            # applied to the first batch of a fresh query
            .option("checkpointLocation", os.path.join(ckpt, "source"))
            .load()
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .start()
        )
        try:
            return self._open_loop(query, land, stage, seen, lock)
        finally:
            query.stop()
            shutil.rmtree(self.base, ignore_errors=True)

    @staticmethod
    def _land(stage: str, land: str, seq: int, data: bytes) -> None:
        name = f"f{seq:06d}.xml"
        with open(os.path.join(stage, name), "wb") as fh:
            fh.write(data)
        os.rename(os.path.join(stage, name), os.path.join(land, name))

    @staticmethod
    def _wait(pred, timeout: float) -> bool:
        end = time.time() + timeout
        while time.time() < end:
            if pred():
                return True
            time.sleep(0.02)
        return pred()

    def _open_loop(self, query, land, stage, seen, lock) -> StreamRun:
        # warm file (seq 0): the query's first batch starts the source's
        # interpreter; the timed files land only after it has committed
        self._land(stage, land, 0,
                   gen.render_stream_file(0, self.ROWS, self.seed))
        if not self._wait(lambda: 0 in seen, 120):
            raise RuntimeError("stream warm-up batch never committed")
        warm_batches = len(query.recentProgress)
        due: Dict[int, float] = {}
        max_lag = 0.0
        t0 = time.time() + 0.2
        for i, data in enumerate(self.files, start=1):
            d = t0 + (i - 1) / self.RATE
            now = time.time()
            if d > now:
                time.sleep(d - now)
            self._land(stage, land, i, data)
            max_lag = max(max_lag, time.time() - d)
            due[i] = d
        self._wait(lambda: all(i in seen for i in due), 60)
        with lock:
            got = {i: list(v) for i, v in seen.items()}
        out = []
        for i, d in due.items():
            hits = got.get(i, [])
            if len(hits) != 1:
                why = "missing" if not hits else f"delivered {len(hits)} times"
                out.append(Outcome(f"file{i}", 0.0, 0, False, why))
                print(f"# stream file {i} {why}", file=sys.stderr)
                continue
            t, n, s = hits[0]
            why = ("" if (n, s) == self.truth[i]
                   else f"rows/sum ({n}, {s}) != {self.truth[i]}")
            if why:
                print(f"# stream file {i} wrong: {why}", file=sys.stderr)
            out.append(Outcome(f"file{i}", t - d, len(self.files[i - 1]),
                               not why, why))
        progress = [p for p in query.recentProgress[warm_batches:]
                    if p.get("numInputRows", 0) > 0]
        return StreamRun(outcomes=out, max_lag_s=max_lag, progress=progress,
                         files=len(self.files))


WORKLOADS = {w.name: w for w in (FlatScan, NestedInfer, WriteRoundtrip)}
