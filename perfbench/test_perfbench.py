"""Self-tests of the benchmark's own pieces (no Spark session needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import gzip
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import eventlog  # noqa: E402
import gen  # noqa: E402
import spans  # noqa: E402

EVENTS = os.path.join(HERE, "testdata", "chat_mix_events.jsonl.gz")


def _payloads(rows) -> set:
    return {r[2] for r in rows}


def test_generator_is_deterministic_per_seed():
    assert gen.pdf_scan_rows(7, 0, 6) == gen.pdf_scan_rows(7, 0, 6)
    assert gen.chat_mix_rows(7, 1, 15, 3, 4) == \
        gen.chat_mix_rows(7, 1, 15, 3, 4)
    assert gen.curate_rows(7, "w0", 200) == gen.curate_rows(7, "w0", 200)


def test_payloads_disjoint_across_seeds_and_repeats():
    sets = [_payloads(gen.pdf_scan_rows(seed, rep, 5))
            for seed in (1, 2) for rep in ("w0", "w1", 0, 1)]
    sets += [_payloads(gen.chat_mix_rows(seed, rep, 14, 3, 3))
             for seed in (1, 2) for rep in ("w0", 0)]
    sets += [_payloads(gen.curate_rows(seed, rep, 100))
             for seed in (1, 2) for rep in ("w0", 0)]
    for i, a in enumerate(sets):
        for b in sets[i + 1:]:
            assert not a & b


def test_pdf_scan_payloads_are_distinct_raster_pdfs():
    rows = gen.pdf_scan_rows(3, 0, 10)
    assert len(_payloads(rows)) == 10
    assert all(r[2].startswith("JVBERi") for r in rows)


def test_curate_rows_plant_exact_clusters():
    rows = gen.curate_rows(5, 0, 400)
    by_cluster = {}
    for _, _, text, c in rows:
        if c >= 0:
            by_cluster.setdefault(c, set()).add(text)
    assert by_cluster
    assert all(len(texts) == 1 for texts in by_cluster.values())
    assert len({(c, t) for c, t, _, _ in rows}) == len(rows)


def _captured_events() -> list:
    with gzip.open(EVENTS, "rt") as f:
        return [json.loads(line) for line in f]


def test_classifier_gives_every_task_one_class():
    events = _captured_events()
    summary = eventlog.summarize(events)
    assert set(summary) == {"r0"}
    f = summary["r0"]
    assert f["unclassified_tasks"] == 0
    assert sum(c["tasks"] for c in f["classes"].values()) == f["tasks"]
    # the union stage splits into the light and the decode branch
    assert f["classes"]["light_udf"]["tasks"] > 0
    assert f["classes"]["decode_udf"]["tasks"] > 0
    for name in ("pre_write", "payload_agg", "write", "lineage"):
        assert f["classes"][name]["tasks"] > 0, name


def test_class_exec_times_add_up_to_stage_executor_time():
    f = eventlog.summarize(_captured_events())["r0"]
    total = sum(c["exec_s"] for c in f["classes"].values())
    assert f["stage_exec_s"] > 0
    assert abs(total - f["stage_exec_s"]) <= 0.10 * f["stage_exec_s"]


def test_input_scans_count_final_plan_scans_of_the_input():
    # the empty-input probe, three scans in the data write and two in the
    # lineage rows_in count; the output and lineage read-backs do not count
    f = eventlog.summarize(_captured_events(), "/work/inputs/")["r0"]
    assert f["input_scans"] == 6


def test_union_branches_cover_every_partition():
    events = _captured_events()
    union_stages = [e["Stage Info"] for e in events
                    if e["Event"] == "SparkListenerStageCompleted"
                    and any(r["Name"] == "UnionRDD"
                            for r in e["Stage Info"]["RDD Info"])]
    assert union_stages
    for si in union_stages:
        branches = eventlog.stage_branches(si)
        assert branches[0][0] == 0
        assert branches[-1][1] == si["Number of Tasks"]
        assert all(a[1] == b[0] for a, b in zip(branches, branches[1:]))


def test_self_time_subtracts_child_cover():
    # root [0, 10] with children [1, 4] and [3, 6] (overlapping: cover 5)
    # and a grandchild [2, 3] under the first child
    s = [["root", 0.0, 10.0, -1], ["a", 1.0, 4.0, 0], ["b", 3.0, 6.0, 0],
         ["g", 2.0, 3.0, 1]]
    st = spans.self_times(s)
    assert st["root"] == 5.0
    assert st["a"] == 2.0
    assert st["b"] == 3.0
    assert st["g"] == 1.0


def test_tracer_wraps_and_restores():
    class Thing:
        def work(self, n):
            return list(range(n))

    tr = spans.Tracer()
    orig = Thing.__dict__["work"]
    assert tr.wrap(Thing, "work", "thing.work",
                   count=lambda r: {"items": len(r)})
    assert not tr.wrap(Thing, "missing", "thing.missing")
    with tr.span("outer"):
        Thing().work(3)
        Thing().work(2)
    tr.restore()
    assert Thing.__dict__["work"] is orig
    assert tr.counts["items"] == 5
    assert tr.counts["thing.work.calls"] == 2
    assert [s[3] for s in tr.spans] == [-1, 0, 0]
    st = tr.self_times()
    assert st["outer"] <= tr.totals()["outer"]
