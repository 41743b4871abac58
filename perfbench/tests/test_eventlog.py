"""The event-log parser on a small recorded fixture (re-record it with
``record_eventlog_fixture.py``), and span attribution on synthetic
spans."""

import os
from types import SimpleNamespace

from perfbench import eventlog
from perfbench.trace import Attribution

FIXTURE = os.path.join(os.path.dirname(__file__), "fixtures", "eventlog")


def test_rolling_parts_read_in_index_order(tmp_path):
    d = tmp_path / "eventlog_v2_app"
    d.mkdir()
    for n in ("events_10_app", "events_2_app", "appstatus_app"):
        (d / n).write_text("")
    assert [os.path.basename(p) for p in eventlog.log_files(str(tmp_path))] == [
        "events_2_app",
        "events_10_app",
    ]


def test_fixture_jobs_stages_and_properties():
    log = eventlog.parse(FIXTURE)
    by_desc = {}
    for job in log.jobs.values():
        by_desc.setdefault(job.description, []).append(job)
    assert set(by_desc) == {f"perfbench:{i}" for i in range(4)}
    assert all(j.succeeded for j in log.jobs.values())

    # the group-by job ran a map stage that wrote shuffle bytes
    agg = [s for j in by_desc["perfbench:0"] for s in log.job_stages(j)]
    assert sum(s.shuffle_write_bytes for s in agg) > 0
    assert sum(s.shuffle_read_bytes for s in agg) > 0
    assert all(s.tasks > 0 and s.run_ms >= 0 for s in agg)
    assert sum(s.cpu_ns for s in agg) > 0

    # jobs run inside foreachBatch carry the stream's batch id
    assert {j.batch_id for j in by_desc["perfbench:2"]} == {0}
    assert {j.batch_id for j in by_desc["perfbench:3"]} == {1}
    assert all(j.batch_id is None for j in by_desc["perfbench:1"])


def test_attribution_to_innermost_span_and_subtree_rollup():
    spans = [
        {"id": 0, "name": "run", "parent": None, "wall_start": 0.0, "wall_end": 10.0},
        {"id": 1, "name": "setsim.batch", "parent": 0, "wall_start": 1.0, "wall_end": 4.0},
        {"id": 2, "name": "setsim.batch", "parent": 1, "wall_start": 2.0, "wall_end": 3.0},
        {"id": 3, "name": "setsim.batch", "parent": 0, "wall_start": 5.0, "wall_end": 6.0},
        {"id": 4, "name": "exact.batch", "parent": 0, "wall_start": 7.0, "wall_end": 8.0},
    ]
    log = eventlog.EventLog()
    stages = {10: eventlog.Stage(tasks=4, cpu_ns=2_000_000), 11: eventlog.Stage(tasks=1)}
    log.stages.update(stages)
    jobs = [
        eventlog.Job(0, "perfbench:1", None, [10]),
        eventlog.Job(1, "perfbench:2", 5, [11, 12]),  # stage 12 was skipped
        eventlog.Job(2, "perfbench:3", None, []),
        # no description: placed by submission time in the innermost open
        # setsim.batch span ...
        eventlog.Job(3, None, None, [], submitted_ms=2500),
        eventlog.Job(4, None, None, [], submitted_ms=5500),
        # ... and never in another span, the root one included
        eventlog.Job(5, None, None, [], submitted_ms=7500),
        eventlog.Job(6, None, None, [], submitted_ms=9000),
        eventlog.Job(7, None, None, [], submitted_ms=11000),
        eventlog.Job(8, None, None, []),
        # the file source's listing job: counted, never placed by time
        eventlog.Job(9, "Listing leaf files and directories for 40 paths", None, [],
                     submitted_ms=2500),
    ]
    log.jobs.update({j.job_id: j for j in jobs})
    att = Attribution(SimpleNamespace(spans=spans), log)
    assert (att.by_time, att.listing, att.unattributed) == (2, 1, 4)
    assert att.jobs(4) == [] and att.jobs(0, own_only=True) == []
    r1 = att.rollup(1)
    assert (r1["stages"], r1["tasks"]) == (2, 5)
    assert (r1["jobs"], r1["self_jobs"]) == (3, 1)
    assert r1["cpu_ms"] == 2.0
    assert att.rollup(0)["jobs"] == 5
    assert att.rollup(2)["self_jobs"] == 2
    assert att.rollup(3)["self_jobs"] == 2
