"""doc == artifact for BASELINE.md (VERDICT r13 task 2).

The r13 judge found BASELINE.md citing a mid-round trend run that the
final committed RATIO_TREND.json contradicted. The volatile citations
now live in a generated block; this test regenerates it from the
committed artifacts and fails on any drift — a trend/yardstick/isolated
refresh without `python tools/sync_baseline.py` cannot pass the suite.
"""

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(REPO, "tools"))


def test_baseline_trend_block_matches_artifacts():
    import sync_baseline

    with open(os.path.join(REPO, "BASELINE.md")) as fh:
        doc = fh.read()
    assert sync_baseline.BEGIN in doc and sync_baseline.END in doc, (
        "BASELINE.md lost its generated-trend markers"
    )
    block = (
        sync_baseline.BEGIN
        + doc.split(sync_baseline.BEGIN, 1)[1].split(
            sync_baseline.END, 1
        )[0]
        + sync_baseline.END
    )
    assert block == sync_baseline.render_block(), (
        "BASELINE.md's trend block is out of sync with the committed "
        "artifacts — run `python tools/sync_baseline.py`"
    )


def test_board_matches_artifacts():
    """doc == artifact for the round-close board (VERDICT r14 task 1):
    BOARD.md is fully generated from BENCH_LOCAL/SCAN_YARDSTICK/
    RATIO_TREND/BOARD_STATUS .json; a bench re-run or board run that
    fails to re-sync it (bench.py and closing_board.py both do, in the
    same commit as the artifact) cannot pass the suite."""
    import sync_board

    path = os.path.join(REPO, "BOARD.md")
    assert os.path.exists(path), (
        "BOARD.md is missing — run `python tools/sync_board.py`"
    )
    with open(path) as fh:
        doc = fh.read()
    assert doc == sync_board.render_board(), (
        "BOARD.md is out of sync with the committed artifacts — run "
        "`python tools/sync_board.py`"
    )


def test_bench_headline_is_settled():
    """The committed bench headline must come from a settled host
    (VERDICT r15 task 1: the r15 final artifact started at loadavg 3.35,
    read 117.2 s against a settled 98.96 s truth, and BOARD.md headlined
    the round's worst weather). bench.py stamps settled=False and
    refuses the self-commit when loadavg_start exceeds the cap; this
    test keeps an unsettled artifact from being committed by hand.
    Pre-stamp artifacts (no 'settled' key) are judged by their recorded
    loadavg_start instead."""
    import json

    with open(os.path.join(REPO, "BENCH_LOCAL.json")) as fh:
        b = json.load(fh)
    settled = b.get("settled")
    start = b.get("loadavg_start")
    # judge against the caps the artifact RECORDS (ADVICE r16): an
    # artifact legitimately stamped under custom
    # SPARK_GRAFT_SETTLED_LOADAVG(5) values must be re-judged against
    # those, not the defaults; pre-stamp artifacts fall back to 1.5/3.0
    cap1 = b.get("settled_loadavg_cap", 1.5)
    cap5 = b.get("settled_loadavg_cap5", 3.0)
    if settled is None:
        settled = start is None or start[0] < cap1
    # a stamped settled=True is re-judged against the two-cap rule: the
    # r16 board's bench step self-stamped settled at [1.47, 5.73, 4.74]
    # because only the 1-minute average was consulted — the 5-minute
    # window still carried the previous step's churn (run read 109.3 s
    # vs 93.7-101.7 s back-to-back settled truth)
    if settled and start is not None and len(start) > 1:
        settled = start[1] < cap5
    assert settled, (
        f"BENCH_LOCAL.json is an UNSETTLED run (loadavg_start "
        f"{b.get('loadavg_start')}) — re-run bench.py on a quiet host "
        "and commit that instead"
    )
    # the headline must sit inside the logged settled band (VERDICT r16
    # task 4): a hand-committed artifact that never appeared in
    # BENCH_RUNS.jsonl — weather-picked in either direction — fails
    import sync_board

    band, n = sync_board._settled_band(b)
    if band:
        assert band[0] - 1e-6 <= b.get("value") <= band[-1] + 1e-6, (
            f"BENCH_LOCAL.json headline {b.get('value')} s is outside "
            f"the settled band {band[0]}-{band[-1]} s ({n} runs in "
            "BENCH_RUNS.jsonl) — commit a run from the band"
        )


def test_baseline_has_no_unstamped_superseded_claims():
    """The two specific stale r13 citations the judge flagged must not
    reappear as live claims: the retracted 1.87 s stream_simhash
    reading and the 1.30x ann_cosine marginal may only occur next to a
    retraction/historical stamp. The GENERATED block is excluded — it
    is artifact-derived by construction (covered by the sync test),
    and an artifact value may legitimately collide with the stale
    substring (a fresh text_tfidf marginal once read exactly 1.87x)."""
    import sync_baseline

    with open(os.path.join(REPO, "BASELINE.md")) as fh:
        doc = fh.read()
    head, rest = doc.split(sync_baseline.BEGIN, 1)
    doc = head + rest.split(sync_baseline.END, 1)[1]
    for stale, context_word in (("1.87", "retract"), ("1.30×", "flip")):
        for i, line in enumerate(doc.splitlines()):
            if stale in line:
                window = "\n".join(doc.splitlines()[max(0, i - 3):i + 3])
                assert (
                    context_word in window
                    or "earlier run" in window
                    or "superseded" in window
                ), f"unstamped stale citation {stale!r}: {line!r}"


def test_unsettled_bench_run_leaves_headline_alone(tmp_path):
    """bench.py writes a settled run to BENCH_LOCAL.json and an unsettled
    one to the BENCH_LOCAL.unsettled.json side file, so a run on a loaded
    host can never replace the committed headline."""
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "bench", os.path.join(REPO, "bench.py")
    )
    bench = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(bench)

    headline = tmp_path / "BENCH_LOCAL.json"
    headline.write_text('{"value": 1.0, "settled": true}\n')
    side = bench.write_artifact(str(tmp_path), '{"value": 2.0}', settled=False)
    assert side == str(tmp_path / "BENCH_LOCAL.unsettled.json")
    assert (tmp_path / "BENCH_LOCAL.unsettled.json").read_text() == (
        '{"value": 2.0}\n'
    )
    assert headline.read_text() == '{"value": 1.0, "settled": true}\n'
    main = bench.write_artifact(str(tmp_path), '{"value": 3.0}', settled=True)
    assert main == str(headline)
    assert headline.read_text() == '{"value": 3.0}\n'
