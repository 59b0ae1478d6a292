"""Round-8 cap routing: per-conversation over-cap windows (r7 verdict
item 2 / next-round item 3) and the probe/monitor agreement property
(next-round item 6).

The fixture plants ONE hot conversation (an agent loop spamming entity
lists) into the real sf0.01 mention stream and proves that (a) only that
conversation is routed through the top-N window, (b) the output is
byte-identical to the r7 all-conversations-window model, and (c)
kg_conv_fanout's n_over_cap pins the fixture — the monitor observes
exactly the decision the cap probe makes."""

from __future__ import annotations

import pytest

from pyspark.sql import Window
from pyspark.sql import functions as F

from kie_invoice_minimal_spark.operators.graph_analytics import (
    CAP_PATH_STATS,
    COMENTION_CAP,
    capped_conv_surfaces,
    conv_fanout_hist,
)
from kie_invoice_minimal_spark.operators.mention_detect import (
    detect_mentions_arrow,
)
from kie_invoice_minimal_spark.sources.transcripts import (
    transcripts_from_documents,
)

SF = "/root/testdata/sf0.01"


def _all_window_model(cnt_rows: list, cap: int) -> set:
    """The r7 ALL-conversations-window semantics in pure Python: per-conv
    top-cap by (cnt DESC, surface ASC) applied to EVERY conversation —
    the reference the per-conversation routing must value-match."""
    by_conv: dict = {}
    for conv_id, surface, cnt in cnt_rows:
        by_conv.setdefault(conv_id, []).append((-cnt, surface))
    out = set()
    for conv_id, rows in by_conv.items():
        for _, surface in sorted(rows)[:cap]:
            out.add((conv_id, surface))
    return out


def _planted(spark, profile: list[int], cap: int):
    """Synthetic mentions: conversation i holds profile[i] distinct
    NAME surfaces (each mentioned once — ties broken by surface ASC,
    so the expected keep-set is deterministic)."""
    rows = [
        (f"conv{i}", f"s{j:04d}", "NAME")
        for i, d in enumerate(profile)
        for j in range(d)
    ]
    return spark.createDataFrame(
        rows, "conv_id string, surface string, mention_type string"
    )


def test_one_hot_conversation_routes_only_hot_through_windows(spark):
    """Judge's done criterion: planted one-hot fixture at sf0.01 — the
    windows process ~1 conversation, output hash identical to the
    all-window model, and n_over_cap pins the fixture."""
    cap = COMENTION_CAP
    t = transcripts_from_documents(spark, SF)
    real = detect_mentions_arrow(t).select("conv_id", "surface", "mention_type")
    hot_d = cap + 8
    hot = spark.createDataFrame(
        [("__hot_conv__", f"agent_entity_{j:03d}", "NAME") for j in range(hot_d)],
        "conv_id string, surface string, mention_type string",
    )
    m = real.unionByName(hot)

    # the monitor pins the fixture: exactly one conversation over the cap
    hist = conv_fanout_hist(m).collect()
    assert sum(r.n_over_cap for r in hist) == 1
    assert max(r.max_d for r in hist) == hot_d

    before = dict(CAP_PATH_STATS)
    out = capped_conv_surfaces(m)
    got = {(r.conv_id, r.surface) for r in out.collect()}
    after = dict(CAP_PATH_STATS)
    assert after["probes"] == before["probes"] + 1
    assert after["skew"] == before["skew"] + 1  # the probe took the skew path

    # the window branch's input is the semi-join against the over-cap id
    # set — i.e. EXACTLY the planted conversation's rows, not the corpus
    cnt = (
        m.filter(F.col("mention_type").isin("NAME", "BRAND"))
        .groupBy("conv_id", "surface")
        .agg(F.count("*").alias("cnt"))
    )
    d = cnt.groupBy("conv_id").agg(F.count("*").alias("d"))
    over = {r.conv_id for r in d.filter(F.col("d") > cap).collect()}
    assert over == {"__hot_conv__"}
    window_input = cnt.join(
        d.filter(F.col("d") > cap).select("conv_id"), "conv_id", "left_semi"
    ).count()
    total = cnt.count()
    assert window_input == hot_d  # ~1 conversation
    assert total > 10 * window_input  # vs the whole corpus the r7 path paid

    # value-identical to the r7 all-conversations-window model
    cnt_rows = [(r.conv_id, r.surface, r.cnt) for r in cnt.collect()]
    assert got == _all_window_model(cnt_rows, cap)
    # the hot conversation keeps exactly cap surfaces (ties -> surface ASC)
    hot_kept = sorted(s for c, s in got if c == "__hot_conv__")
    assert hot_kept == [f"agent_entity_{j:03d}" for j in range(cap)]
    # every other conversation is untouched
    per_conv_full = {
        (r.conv_id, r.surface)
        for r in cnt.filter(F.col("conv_id") != "__hot_conv__").collect()
    }
    assert {(c, s) for c, s in got if c != "__hot_conv__"} == per_conv_full


@pytest.mark.parametrize(
    "profile",
    [
        [1, 2, 3],          # far below cap
        [4, 4, 4],          # exactly AT the cap everywhere (boundary: common)
        [5, 1, 1],          # one conv one past the cap (boundary: skew)
        [4, 5, 2, 9],       # mixed straddle
        [9, 9, 9],          # every conv hot (adversarial corpus)
        [],                 # empty corpus
    ],
)
def test_probe_monitor_agreement_fuzz(spark, profile):
    """Next-round item 6: n_over_cap > 0 ⇔ capped_conv_surfaces takes the
    skew path, over planted fan-outs straddling the cap — the monitor and
    the probe compute the same quantity independently (countDistinct over
    mentions vs count over the grouped cnt table) and must agree at every
    boundary."""
    cap = 4
    m = _planted(spark, profile, cap)
    monitor_over = sum(
        r.n_over_cap for r in conv_fanout_hist(m, cap=cap).collect()
    )
    before = dict(CAP_PATH_STATS)
    out = capped_conv_surfaces(m, cap=cap)
    rows = [(r.conv_id, r.surface) for r in out.collect()]
    after = dict(CAP_PATH_STATS)

    skew_taken = after["skew"] == before["skew"] + 1
    common_taken = after["common"] == before["common"] + 1
    assert skew_taken != common_taken  # exactly one path per probe
    assert (monitor_over > 0) == skew_taken
    assert monitor_over == sum(1 for dd in profile if dd > cap)

    # truncation happens exactly on the skew path, and only for hot convs
    assert len(rows) == sum(min(dd, cap) for dd in profile)
    assert len(set(rows)) == len(rows)
    got = set(rows)
    want = {
        (f"conv{i}", f"s{j:04d}")
        for i, dd in enumerate(profile)
        for j in range(min(dd, cap))  # each surface once: ties -> ASC
    }
    assert got == want


def test_skew_value_equals_all_window_model_with_weights(spark):
    """Weighted multiplicities + several over-cap convs: the per-conv
    routing must reproduce the all-window model including (cnt DESC,
    surface ASC) ordering through the one top-N window."""
    cap = 3
    rows = []
    # conv A: 6 surfaces with distinct counts (reverse-alphabetical wins)
    for j, n in enumerate([1, 2, 3, 4, 5, 6]):
        rows += [(f"A", f"a{j}", "NAME")] * n
    # conv B: 5 surfaces all tied (surface ASC wins)
    for j in range(5):
        rows += [("B", f"b{j}", "BRAND")]
    # conv C: under the cap, untouched
    rows += [("C", "c0", "NAME"), ("C", "c1", "NAME")]
    # conv D: OTHER-type mentions only — filtered before capping
    rows += [("D", f"d{j}", "DATE") for j in range(9)]
    m = spark.createDataFrame(
        rows, "conv_id string, surface string, mention_type string"
    )
    got = {
        (r.conv_id, r.surface)
        for r in capped_conv_surfaces(m, cap=cap).collect()
    }
    assert got == {
        ("A", "a5"), ("A", "a4"), ("A", "a3"),
        ("B", "b0"), ("B", "b1"), ("B", "b2"),
        ("C", "c0"), ("C", "c1"),
    }
