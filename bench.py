"""Benchmark harness: ALL driver queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints the FULL payload as one JSON line:
  {"metric": "...", "value": <total query sec>, "unit": "sec",
   "queries": {...per-query sec...}, "sf": <sf>, ...extras}
then a `spark_xml_graft_bench_perq` metric line carrying the complete
name->sec dict (for the driver's per-query PERF comparator; too big for
the tail, see below), followed by a FINAL compact summary line (<1.9 KB)
sized to survive the
driver's 2 KB stdout-tail capture and json-parse of the last line: totals,
yardstick, ratio medians, and per-query secs/ratios as arrays in queries()
registry order (q_md5 = md5 of the comma-joined name list, first 8 hex,
for alignment against BENCH_LOCAL.json's name->sec map).

Extras:
  prep_xmlify_s          one-time XML cache build cost (write + inference);
                         real use pays it once per corpus, queries run
                         against the cached XML tables (steady state)
  xml_scan_rows_per_s    SUSTAINED full-schema scan throughput: min-of-5
                         isolated count() over the 11-column XML lineitem,
                         AQE off (a single-stage scan gains nothing from
                         adaptive re-planning and pays its stage-
                         materialization barrier)
  xml_scan_pruned_rows_per_s  same scan with a 4-column read schema — the
                         reference's buildScan(requiredColumns) shape
                         (XmlRelation.scala:56-70); the Python DS API has
                         no pruning hook, so pruning is expressed via the
                         user-provided schema
  tier_adoption          rows (and in-worker task-seconds of parse/cast
                         work) served by each parse tier during the scan
                         measurement, from the env-gated reader
                         instrumentation — proves which code path the
                         bench actually exercised. secs SUM across
                         parallel workers: compare against scan wall *
                         cpus, not wall-clock. One-time per-worker import
                         cost is pre-warmed outside the timed regions and
                         reported separately as tier_setup_s, so per-tier
                         secs are proportional to the parse work actually
                         done (rows are exact either way)

Every queries() entry is timed (min-of-N, N=3 batch / N=2 for streaming
queries whose fixed micro-batch setup dominates); exclusions would be
listed in "excluded" with a reason — currently none.

The 2x-of-baseline gate is MEASURED, not asserted (VERDICT r9 task 1):
every oracle_sql() entry is also timed in DuckDB (same parquet,
threads=cpus) and the line carries per-query
  oracle_s   DuckDB wall seconds
  ratio      spark_s / duck_s (the number the 2x gate grades)
The oracle pass is HARD-BUDGETED (VERDICT r10 item 1 — an unbudgeted
recursive-CTE oracle stalled the driver's round-10 bench to rc=124):
each oracle runs under a watchdog thread that calls con.interrupt()
at SPARK_GRAFT_ORACLE_CAP_S (default 15 s) wall; interrupted oracles
are recorded in  oracle_timeout  (no ratio — a baseline that cannot
finish the query inside the cap needs no Spark-vs-baseline defense),
and a global SPARK_GRAFT_ORACLE_BUDGET_S (default 240 s) backstop
skips any oracles still unstarted past it. Cheap oracles (<2 s) keep
min-of-3; expensive ones take the first completed reading.
plus, at the END of the line (the driver's artifact keeps a 2 KB tail,
so the summary must live there):
  ratio_summary    {median, p90, max, n, n_over_2x, over_2x: [...]}
                   computed over BATCH queries only — streaming entries
                   time a multi-trigger micro-batch pipeline against a
                   one-shot SQL replay, which measures trigger overhead,
                   not query speed (reported per-query, excluded from
                   the summary and listed under streaming_ratio_note)
  isolated_top10   min-of-5 re-runs of the 10 most expensive Spark
                   queries AFTER the suite (cache-warm, backpressure
                   from suite ordering removed)
  loadavg_start/end  host 1/5/15-min load — the cross-session noise
                   context every reading needs on a shared VM
The full untruncated payload is also written to BENCH_LOCAL.json in the
repo root when the run is settled; an unsettled run writes it to
BENCH_LOCAL.unsettled.json instead and leaves the committed headline alone.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

# streaming queries run a bounded micro-batch pipeline per call: one warm +
# one measured iteration (their setup/teardown is the cost being measured)
_STREAMING = {
    "stream_xml_ingest",
    "stream_sessionize",
    "stream_enrich",
    "stream_windowed",
    "stream_xml_sink",
    "stream_dedup",
    "stream_clean",
    "stream_backpressure",
    "stream_simhash",
    "stream_kmv",
}


ARTIFACT = "BENCH_LOCAL.json"
UNSETTLED_ARTIFACT = "BENCH_LOCAL.unsettled.json"


def write_artifact(directory: str, line: str, settled: bool) -> str:
    """Write one suite run's payload ``line`` into ``directory`` and return
    the file's path: a settled run replaces the headline ``ARTIFACT``; an
    unsettled one writes ``UNSETTLED_ARTIFACT`` for inspection and never
    touches the headline."""
    path = os.path.join(
        directory, ARTIFACT if settled else UNSETTLED_ARTIFACT
    )
    with open(path, "w") as fh:
        fh.write(line + "\n")
    return path


def main() -> None:
    proc_start = time.time()
    try:
        load_start = tuple(round(x, 2) for x in os.getloadavg())
    except OSError:
        load_start = None
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else -1.0

    # tier-adoption instrumentation for the scan measurement (see
    # sources/datasource.py _TierTally); set before the session starts so
    # executor-side workers inherit it
    stats_dir = tempfile.mkdtemp(prefix="xmlgraft_tiers_")
    os.environ["SPARK_XML_TIER_STATS_DIR"] = stats_dir

    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(max(int(cpus), 8)))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.python.filterPushdown.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "8g")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as em

    # ---- prep: XML-ify the big table (write path + distributed inference)
    timings: dict[str, float] = {}
    errors: dict[str, str] = {}
    cold_runs: dict[str, float] = {}
    n_lineitem = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet")).count()
    t0 = time.time()
    try:
        em._xml_table(spark, sf_dir, "lineitem", partitions=int(cpus))
    except Exception as exc:  # noqa: BLE001  (queries rebuild their own caches)
        errors["prep_xmlify"] = repr(exc)[:300]
    prep_s = time.time() - t0  # ~0 when cache-hot; cold = write + infer

    # ---- isolated scan-throughput measurement (min-of-5, AQE off) --------
    def scan_rate(columns=None):
        df = em._xml_table(spark, sf_dir, "lineitem", partitions=int(cpus),
                           columns=columns)
        df.count()  # warm: codegen + python-worker spin-up + page cache
        best = None
        for _ in range(5):
            t = time.time()
            df.count()
            dt = time.time() - t
            best = dt if best is None else min(best, dt)
        return round(n_lineitem / best), round(best, 3)

    def drain_tiers() -> dict:
        """Read AND CLEAR the tier tallies, so each snapshot covers exactly
        one measurement (the prep/inference and warm-up scans would
        otherwise pollute the measured scan's counters)."""
        tiers: dict[str, dict] = {}
        try:
            for fn in os.listdir(stats_dir):
                p = os.path.join(stats_dir, fn)
                with open(p) as fh:
                    for line in fh:
                        rec = json.loads(line)
                        t = tiers.setdefault(rec["tier"], {"rows": 0, "secs": 0.0})
                        t["rows"] += rec["rows"]
                        t["secs"] = round(t["secs"] + rec.get("secs", 0.0), 2)
                os.unlink(p)
        except OSError:
            pass
        return tiers

    aqe_prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    tiers_full: dict = {}
    tiers_pruned: dict = {}
    try:
        # warm-up happens inside scan_rate; drain right before so each
        # snapshot holds warm-up + 5 measured iterations of ONE scan shape
        drain_tiers()  # discard prep/inference tallies
        scan_full_rate, scan_full_s = scan_rate()
        tiers_full = drain_tiers()
        scan_pruned_rate, scan_pruned_s = scan_rate(
            columns=["l_returnflag", "l_linestatus", "l_quantity",
                     "l_extendedprice"]
        )
        tiers_pruned = drain_tiers()
        # one-time per-worker import cost, kept out of the per-tier secs
        tier_setup_s = round(
            tiers_full.pop("setup", {}).get("secs", 0.0)
            + tiers_pruned.pop("setup", {}).get("secs", 0.0),
            2,
        )
    except Exception as exc:  # noqa: BLE001
        errors["xml_scan_rate"] = repr(exc)[:300]
        scan_full_rate = scan_full_s = scan_pruned_rate = scan_pruned_s = None
        tier_setup_s = None
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", aqe_prev)

    # the rest of the bench runs uninstrumented (zero-cost path)
    del os.environ["SPARK_XML_TIER_STATS_DIR"]
    shutil.rmtree(stats_dir, ignore_errors=True)

    # ---- pre-warm pass (r14, VERDICT task 5): build every persisted
    # artifact (pair lists, LSH/IVF indexes, XML table caches, stream
    # sources) OUTSIDE the timed runs, so the committed suite number is
    # a warm reading whose in-suite timings are comparable to isolated
    # ones. Build cost stays visible via artifact_builds (stamped into
    # each _DONE marker) and prewarm_wall_s. Opt out (e.g. to measure a
    # deliberate cold pass) with SPARK_GRAFT_BENCH_NO_PREWARM=1.
    prewarm_wall_s = None
    # per-name attribution (ADVICE r14): a query failing ONLY during
    # prewarm (e.g. a cache-build race whose corrupt warm artifact the
    # timed run then reads) must be traceable to this pass, not just an
    # aggregate count
    prewarm_errors: dict[str, str] = {}
    if os.environ.get("SPARK_GRAFT_BENCH_NO_PREWARM") != "1":
        t0 = time.time()
        for name, fn in em.queries().items():
            try:
                fn(spark, sf_dir).count()
            except Exception as exc:  # noqa: BLE001 -- run() reports it below
                prewarm_errors[name] = repr(exc)[:120]
        prewarm_wall_s = round(time.time() - t0, 1)
        sys.stderr.write(
            f"bench prewarm: {prewarm_wall_s}s "
            f"({len(prewarm_errors)} errors"
            + (f": {sorted(prewarm_errors)}" if prewarm_errors else "")
            + ")\n"
        )

    loadavg_q: dict[str, float] = {}

    def run(name: str, fn) -> None:
        # min-of-N: the first iteration pays JVM codegen + Python-worker
        # spin-up + AQE planning (session warmup, not per-query cost), and
        # min damps single-tenant VM noise. One failing query must NOT
        # abort the suite: record the error, keep remaining timings.
        iters = 2 if name in _STREAMING else 3
        best = None
        first = None
        n = 0
        try:
            for _ in range(iters):
                t = time.time()
                df = fn(spark, sf_dir)
                n = df.count()
                dt = time.time() - t
                first = dt if first is None else first
                best = dt if best is None else min(best, dt)
        except Exception as exc:  # noqa: BLE001
            errors[name] = repr(exc)[:300]
            sys.stderr.write(f"bench {name}: ERROR {errors[name]}\n")
            return
        timings[name] = round(best, 3)
        try:
            # per-query loadavg provenance: a contended stretch of the
            # suite is visible per reading, not only at the run's ends
            loadavg_q[name] = round(os.getloadavg()[0], 2)
        except OSError:
            pass
        # transparency for artifact-backed queries (pair lists, LSH/IVF
        # indexes): run 1 pays the BUILD, later runs read the persisted
        # artifact — the min is the honest steady state, but the build
        # cost must stay visible, so report any first run >2x the min
        if first is not None and best > 0 and first > 2 * best + 0.2:
            cold_runs[name] = round(first, 3)
        sys.stderr.write(f"bench {name}: {timings[name]}s ({n} rows)\n")

    for name, fn in em.queries().items():
        run(name, fn)

    # ---- DuckDB oracle wall time per query: the measured 2x gate ------
    # Same parquet, same thread budget. HARD-BUDGETED (see module
    # docstring): per-oracle wall cap enforced by con.interrupt() from a
    # watchdog thread, global pass budget as a backstop — one
    # pathological oracle plan (dedup_clusters' recursive CTE runs >10
    # min at sf0.1) must never stall the driver's bench again.
    oracle_s: dict[str, float] = {}
    oracle_timeout: list[str] = []
    oracle_cap_s = float(os.environ.get("SPARK_GRAFT_ORACLE_CAP_S", "15"))
    oracle_budget_s = float(
        os.environ.get("SPARK_GRAFT_ORACLE_BUDGET_S", "240")
    )
    try:
        import threading

        import duckdb

        def _oracle_connect():
            c = duckdb.connect()
            c.execute(f"PRAGMA threads={int(cpus)}")
            for t in ["region", "nation", "customer", "supplier", "part",
                      "orders", "lineitem", "events", "documents",
                      "embeddings"]:
                c.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{sf_dir}/{t}.parquet')"
                )
            return c

        def _run_capped(c, sql, cap):
            """One oracle execution under a wall cap. Returns (secs,
            timed_out). The watchdog interrupts the running statement;
            any error raised AFTER the watchdog fired is attributed to
            the interrupt (DuckDB surfaces it as a generic
            InterruptException)."""
            done = threading.Event()
            fired: list = []

            def _dog():
                if not done.wait(cap):
                    fired.append(True)
                    try:
                        c.interrupt()
                    except Exception:  # noqa: BLE001
                        pass

            th = threading.Thread(target=_dog, daemon=True)
            th.start()
            t = time.time()
            try:
                c.execute(sql).fetchall()
                return time.time() - t, False
            except Exception:
                if fired:
                    return None, True
                raise
            finally:
                done.set()
                th.join(timeout=2)

        con = _oracle_connect()
        oracle_t0 = time.time()
        for name, sql in em.oracle_sql().items():
            if name not in timings:
                continue  # spark side errored; no ratio to report
            if time.time() - oracle_t0 > oracle_budget_s:
                oracle_timeout.append(name)  # backstop: never started
                continue
            best = None
            timed_out = False
            try:
                for _ in range(3):
                    dt, timed_out = _run_capped(con, sql, oracle_cap_s)
                    if timed_out:
                        break
                    best = dt if best is None else min(best, dt)
                    if dt > 2.0:
                        break  # expensive oracle: one reading suffices
                if timed_out:
                    # an interrupted connection carries no state
                    # guarantees; rebuild it before the next oracle
                    try:
                        con.close()
                    except Exception:  # noqa: BLE001
                        pass
                    con = _oracle_connect()
                # a timeout on repetition 2/3 must not discard a valid
                # completed reading (ADVICE r11): record the best we
                # have; only a query with NO completed repetition is an
                # oracle_timeout
                if best is not None:
                    oracle_s[name] = round(best, 3)
                elif timed_out:
                    oracle_timeout.append(name)
                    sys.stderr.write(
                        f"oracle {name}: TIMEOUT >{oracle_cap_s}s\n"
                    )
            except Exception as exc:  # noqa: BLE001
                errors[f"oracle:{name}"] = repr(exc)[:200]
        con.close()
    except Exception as exc:  # noqa: BLE001
        errors["oracle_bench"] = repr(exc)[:300]

    ratio = {
        n: round(timings[n] / oracle_s[n], 2)
        for n in timings
        if oracle_s.get(n)
    }
    # Spark's fixed per-query floor on this session (job scheduling +
    # codegen + result fetch for a minimal two-stage aggregate): the
    # part of every reading that does NOT scale with data volume. The
    # floor-adjusted summary approximates marginal (per-row) cost —
    # the quantity that predicts 100 TB behavior — while the raw ratio
    # keeps single-query latency honest.
    floor_best = None
    for _ in range(5):
        t = time.time()
        spark.range(1000).selectExpr("id % 7 AS k").groupBy("k").count() \
            .collect()
        dt = time.time() - t
        floor_best = dt if floor_best is None else min(floor_best, dt)
    spark_floor_s = round(floor_best, 3)
    # streaming entries time micro-batch machinery vs a one-shot SQL
    # replay — report them, but keep them out of the gate summary
    batch_ratios = sorted(
        ratio[n] for n in ratio if n not in _STREAMING
        and not n.startswith("stream_")
    )

    def _pct(sorted_vals, p):
        if not sorted_vals:
            return None
        i = min(len(sorted_vals) - 1, int(round(p * (len(sorted_vals) - 1))))
        return sorted_vals[i]

    adj_items = {
        n: round(max(timings[n] - spark_floor_s, 0.001) / oracle_s[n], 2)
        for n in ratio
        if n not in _STREAMING and not n.startswith("stream_")
    }
    adj_sorted = sorted(adj_items.values())
    over_2x = sorted(n for n, r in adj_items.items() if r > 2.0)
    ratio_summary = {
        "raw_median": _pct(batch_ratios, 0.5),
        "raw_p90": _pct(batch_ratios, 0.9),
        "raw_max": batch_ratios[-1] if batch_ratios else None,
        "spark_floor_s": spark_floor_s,
        "floor_adj_median": _pct(adj_sorted, 0.5),
        "floor_adj_p90": _pct(adj_sorted, 0.9),
        "floor_adj_max": adj_sorted[-1] if adj_sorted else None,
        "n": len(batch_ratios),
        "n_over_2x_floor_adj": len(over_2x),
        "over_2x_floor_adj": over_2x,
    }

    # ---- isolated min-of-3 for the 10 most expensive Spark queries ----
    # (suite timings interleave 97 plans; a re-run block per query after
    # the suite removes ordering backpressure — the closest to isolation
    # one process allows. min-of-3, not 5: these queries are cache-warm
    # by now and the block must stay inside the driver's time budget)
    isolated_top10: dict[str, float] = {}
    qs = em.queries()
    for name in sorted(timings, key=timings.get, reverse=True)[:10]:
        best = None
        try:
            for _ in range(3):
                t = time.time()
                qs[name](spark, sf_dir).count()
                dt = time.time() - t
                best = dt if best is None else min(best, dt)
            isolated_top10[name] = round(best, 3)
        except Exception as exc:  # noqa: BLE001
            errors[f"isolated:{name}"] = repr(exc)[:200]

    # artifact builds PAID DURING THIS BENCH (pair lists, LSH/IVF
    # indexes, XML table caches): every _cached_build stamps its cost
    # into the _DONE marker, so build wall is attributable per-artifact
    # even when the build happened in a different process than the one
    # reporting (in-process cold/warm ratios can't see that). A run
    # against warm caches reports {} here; a cold run explains exactly
    # which in-suite timings absorbed a build.
    artifact_builds: dict[str, float] = {}
    try:
        for entry in os.listdir(em.CACHE_ROOT):
            marker = os.path.join(em.CACHE_ROOT, entry, "_DONE")
            try:
                if os.path.getmtime(marker) < proc_start - 1:
                    continue
                with open(marker) as fh:
                    rec = json.loads(fh.read())
                artifact_builds[entry] = rec.get("build_s")
            except (OSError, ValueError):
                continue
    except OSError:
        pass

    total = round(sum(timings.values()), 3)
    try:
        load_end = tuple(round(x, 2) for x in os.getloadavg())
    except OSError:
        load_end = None
    # scale-trend adjudication of the 2x gate (VERDICT r10 item 3 /
    # r11 task 2): tools/ratio_trend.py measures spark-vs-DuckDB ratios
    # at sf0.001/0.01/0.1 (+ a ~10x-documents synthetic point for the
    # top pipeline operators) and writes RATIO_TREND.json; the compact
    # summary rides along here so the driver artifact carries the trend
    ratio_trend = None
    try:
        with open(os.path.join(os.path.dirname(os.path.abspath(__file__)),
                               "RATIO_TREND.json")) as fh:
            ratio_trend = json.load(fh).get("summary")
        if ratio_trend:
            # keep the embed compact: the driver artifact preserves only
            # a 2 KB tail and ratio_summary must fit behind this; the
            # full per-sf table lives in RATIO_TREND.json
            ratio_trend = {
                k: v for k, v in ratio_trend.items() if k != "ratio_by_sf"
            }
    except (OSError, ValueError):
        pass
    # the round's provenance-stamped scan yardstick (tools/profile_scan
    # min-of-5 under a loadavg guard, VERDICT r12 task 4) rides along so
    # the artifact and BASELINE.md cite the same number
    scan_yardstick = None
    try:
        with open(os.path.join(os.path.dirname(os.path.abspath(__file__)),
                               "SCAN_YARDSTICK.json")) as fh:
            scan_yardstick = json.load(fh)
    except (OSError, ValueError):
        pass
    # A run that STARTED on a churning host reads high across the board
    # (the r15 final artifact began at loadavg 3.35 and read 117.2 s
    # where the settled truth was ~99 s — VERDICT r15 task 1). Stamp the
    # verdict into the artifact so consumers can tell weather from
    # signal, and gate the self-commit below on it.
    settled_cap = float(os.environ.get("SPARK_GRAFT_SETTLED_LOADAVG", "1.5"))
    # the 1-minute average alone is gameable by the very lag it guards
    # against: the r16 board's bench step started at [1.47, 5.73, 4.74]
    # — 1-min "settled", 5-min still carrying the trend run's churn —
    # and read 109.3 s where back-to-back settled runs read 93.7-101.7 s.
    # Require the 5-minute average under its own (looser) cap too.
    settled_cap5 = float(
        os.environ.get("SPARK_GRAFT_SETTLED_LOADAVG5", "3.0")
    )
    settled = load_start is None or (
        load_start[0] < settled_cap and load_start[1] < settled_cap5
    )
    payload = {
        # contract keys first; per-query detail in the middle; the gate
        # summary LAST so the driver's 2 KB tail-truncated artifact
        # keeps it
        "metric": "spark_xml_graft_query_suite",
        "value": total,
        "unit": "sec",
        "sf": sf,
        "cpus": int(cpus),
        "settled": settled,
        "settled_loadavg_cap": settled_cap,
        "settled_loadavg_cap5": settled_cap5,
        "prep_xmlify_s": round(prep_s, 3),
        "lineitem_rows": n_lineitem,
        "queries": timings,
        "oracle_s": oracle_s,
        "oracle_timeout": oracle_timeout,
        "oracle_cap_s": oracle_cap_s,
        "ratio": ratio,
        "ratio_floor_adj": adj_items,
        "tier_adoption": tiers_full,
        "tier_adoption_pruned": tiers_pruned,
        "tier_setup_s": tier_setup_s,
        "cold_runs": cold_runs,
        "artifact_builds": artifact_builds,
        "excluded": {},
        **({"errors": errors} if errors else {}),
        "xml_scan_rows_per_s": scan_full_rate,
        "xml_scan_s": scan_full_s,
        "xml_scan_pruned_rows_per_s": scan_pruned_rate,
        "xml_scan_pruned_s": scan_pruned_s,
        "isolated_top10": isolated_top10,
        "loadavg_start": load_start,
        "loadavg_end": load_end,
        "loadavg_per_query": loadavg_q,
        "prewarm_wall_s": prewarm_wall_s,
        **({"prewarm_errors": prewarm_errors} if prewarm_errors else {}),
        "streaming_ratio_note": "stream_* ratios excluded from "
        "ratio_summary: they time multi-trigger micro-batch machinery "
        "vs a one-shot SQL replay",
        **({"ratio_trend": ratio_trend} if ratio_trend else {}),
        **({"scan_yardstick": scan_yardstick} if scan_yardstick else {}),
        "bench_wall_s": round(time.time() - proc_start, 1),
        "ratio_summary": ratio_summary,
    }
    line = json.dumps(payload)
    repo = os.path.dirname(os.path.abspath(__file__))
    try:
        write_artifact(repo, line, settled)
    except OSError:
        pass
    # ---- settled-band run log (VERDICT r16 task 4): BOARD.md must
    # headline the BAND of this round's settled runs, not whichever
    # single run was committed last (r16 committed the 79.7 s floor of a
    # 79.7-102.6 s settled spread; r15 committed the weather ceiling).
    # Every suite run appends its headline record here — unsettled runs
    # included, stamped, so the renderer/test can filter honestly.
    import hashlib

    qnames = list(em.queries().keys())
    q_md5 = hashlib.md5(",".join(qnames).encode()).hexdigest()[:8]
    run_rec = {
        "value": total,
        "sf": sf,
        "cpus": int(cpus),
        "n_queries": len(timings),
        "n_errors": len(errors),
        "settled": settled,
        "loadavg_start": load_start,
        "q_md5": q_md5,
        "bench_wall_s": round(time.time() - proc_start, 1),
    }
    try:
        with open(os.path.join(repo, "BENCH_RUNS.jsonl"), "a") as fh:
            fh.write(json.dumps(run_rec, separators=(",", ":")) + "\n")
    except OSError:
        pass
    # artifact + commit in ONE step (VERDICT r12 task 6): a bench run
    # must never leave the tree dirty at round close. ONLY the file THIS
    # run wrote is committed — staging SCAN_YARDSTICK/RATIO_TREND here
    # would silently publish other tools' uncommitted candidate readings
    # (review r13); those tools' outputs are committed by their own
    # invokers. Opt out with SPARK_GRAFT_BENCH_NO_COMMIT=1.
    if not settled:
        # Unsettled runs must never become the committed headline
        # (VERDICT r15 task 1: the r15 final artifact, started at
        # loadavg 3.35, overwrote a settled 98.96 s run and BOARD.md
        # faithfully headlined the round's worst weather). Its payload
        # went to the UNSETTLED_ARTIFACT side file (stamped
        # settled:false) for inspection; BENCH_LOCAL.json is untouched.
        print(
            f"bench: UNSETTLED run (loadavg_start {load_start}, caps "
            f"1-min {settled_cap} / 5-min {settled_cap5}) — payload in "
            f"{UNSETTLED_ARTIFACT}, {ARTIFACT} left as it was; re-run on "
            "a quiet host",
            file=sys.stderr,
        )
    elif os.environ.get("SPARK_GRAFT_BENCH_NO_COMMIT") != "1":
        import subprocess

        try:
            art = ARTIFACT
            # BOARD.md is generated FROM BENCH_LOCAL.json (VERDICT r14
            # task 1): re-render it in the SAME commit so a bench re-run
            # can never orphan the board's cited numbers. A sync failure
            # must be VISIBLE (review r15): silently committing a fresh
            # artifact next to a stale BOARD.md is the exact drift this
            # exists to kill
            sync = subprocess.run(
                [sys.executable, "tools/sync_board.py"],
                cwd=repo, capture_output=True, text=True, timeout=60,
            )
            if sync.returncode != 0:
                print(
                    "bench: sync_board FAILED "
                    f"(rc={sync.returncode}) — BOARD.md may be stale: "
                    f"{(sync.stderr or sync.stdout).strip()[:200]}",
                    file=sys.stderr,
                )
            # a failed sync means BOARD.md on disk is NOT freshly
            # rendered from this artifact: committing it would publish
            # a stale board as if re-synced (ADVICE r15) — commit only
            # the artifact in that case
            to_commit = (
                [art, "BENCH_RUNS.jsonl"]
                if sync.returncode != 0
                else [art, "BENCH_RUNS.jsonl", "BOARD.md"]
            )
            subprocess.run(["git", "add", "--", *to_commit],
                           cwd=repo, capture_output=True, timeout=30)
            diff = subprocess.run(
                ["git", "diff", "--cached", "--quiet", "--", *to_commit],
                cwd=repo, capture_output=True, timeout=30,
            )
            if diff.returncode == 1:
                commit = subprocess.run(
                    ["git", "commit", "-m", "Record bench artifact",
                     "--only", "--", *to_commit],
                    cwd=repo, capture_output=True, timeout=30,
                )
                # git history mutation must be VISIBLE (advice r13):
                # one line to stderr, commit or failure alike
                print(
                    f"bench: committed {art}" if commit.returncode == 0
                    else f"bench: git commit of {art} FAILED "
                         f"(rc={commit.returncode}) — tree left dirty; "
                         "set SPARK_GRAFT_BENCH_NO_COMMIT=1 to opt out",
                    file=sys.stderr,
                )
        except Exception as exc:  # noqa: BLE001 -- bench must still print
            print(f"bench: git commit skipped ({exc!r})", file=sys.stderr)
    print(line)
    # ---- driver-parseable summary as the FINAL stdout line (VERDICT r14
    # task 2): the driver artifact keeps only a ~2 KB stdout tail and
    # json-parses its last line — the full payload above is ~15 KB, so
    # r13/r14 artifacts carried parsed:null and a mid-JSON tail. This
    # line is budgeted to survive the tail cap. Per-query secs/ratios
    # ride as ARRAYS in queries() registry order (append-only, pinned by
    # tests/test_entry_contract.py) because the 115 full names alone
    # exceed the budget; q_md5 (md5 of the comma-joined name list, first
    # 8 hex) lets a reader verify alignment against the name->sec map in
    # the committed BENCH_LOCAL.json of the same run.
    # ---- per-query name->sec metric line (VERDICT r16 task 2): the
    # driver's PERF comparator needs a parseable name->sec mapping, and
    # the full 117-name dict (~2.6 KB) can NEVER fit the 2 KB tail next
    # to the summary — so it rides as its OWN metric line, printed
    # BEFORE the final summary (the summary stays last and
    # tail-parseable, so a tail-only parser loses nothing vs r16, and a
    # full-stdout parser gets the complete mapping). q_md5 ties it to
    # the summary line of the same run.
    perq = {
        "metric": "spark_xml_graft_bench_perq",
        "unit": "sec",
        "sf": sf,
        "cpus": int(cpus),
        "settled": settled,
        "q_md5": q_md5,
        "queries": timings,
    }
    print(json.dumps(perq, separators=(",", ":")))
    summary = {
        "metric": "spark_xml_graft_bench_summary",
        "value": total,
        "unit": "sec",
        "sf": sf,
        "cpus": int(cpus),
        "n_queries": len(timings),
        "n_errors": len(errors),
        "settled": settled,
        "prewarm_wall_s": prewarm_wall_s,
        "prewarm_errors_n": len(prewarm_errors),
        "cold_runs": cold_runs,
        "xml_scan_rows_per_s": scan_full_rate,
        "xml_scan_pruned_rows_per_s": scan_pruned_rate,
        "spark_floor_s": spark_floor_s,
        "ratio_raw_median": ratio_summary["raw_median"],
        "ratio_floor_adj_median": ratio_summary["floor_adj_median"],
        "n_over_2x_floor_adj": ratio_summary["n_over_2x_floor_adj"],
        "loadavg": [load_start, load_end],
        "bench_wall_s": round(time.time() - proc_start, 1),
        "q_order": "queries() registry order; names in BENCH_LOCAL.json",
        "q_md5": q_md5,
        "q_secs": [timings.get(n) for n in qnames],
        "q_ratio": [ratio.get(n) for n in qnames],
        "isolated_top10": isolated_top10,
    }
    # fit under the tail cap: drop lowest-priority fields first, never
    # the per-query arrays (they are the point of this line)
    budget = 1900
    for drop in ("isolated_top10", "q_ratio", "cold_runs", "q_order"):
        sline = json.dumps(summary, separators=(",", ":"))
        if len(sline) <= budget:
            break
        summary.pop(drop, None)
    else:
        sline = json.dumps(summary, separators=(",", ":"))
    print(sline)
    spark.stop()


if __name__ == "__main__":
    main()
