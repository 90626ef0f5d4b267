"""Event-log summariser on a small committed log (see
``make_eventlog_fixture.py``): two jobs, one in job group
``bench:p0:q:exec`` (a 4-task map stage and a 3-task reduce stage) and
one without a group (a 2-task and a 1-task stage)."""

import json
import os

import pytest

import eventlog

FIXTURE = os.path.join(os.path.dirname(__file__), "fixtures",
                       "eventlog_small.jsonl")
GROUP = "bench:p0:q:exec"


@pytest.fixture(scope="module")
def events():
    with open(FIXTURE) as f:
        return eventlog.read_events(f)


def _key(group, _t):
    return group or "ungrouped"


def test_reads_only_the_used_events(events):
    kinds = {e["Event"] for e in events}
    assert kinds == {"SparkListenerJobStart", "SparkListenerStageCompleted",
                     "SparkListenerTaskEnd"}
    assert eventlog.read_events(['{"Event":"SparkListenerApplicationStart"}']) == []


def test_counts_per_job_group(events):
    s = eventlog.summarise(events, _key)
    assert set(s) == {GROUP, "ungrouped"}
    g, u = s[GROUP], s["ungrouped"]
    assert (g["jobs"], g["stages"], g["tasks"]) == (1, 2, 7)
    assert (u["jobs"], u["stages"], u["tasks"]) == (1, 2, 3)
    # the grouped job shuffles; everything written is read back
    assert g["shuffle_write_mb"] > 0
    assert g["shuffle_read_mb"] == pytest.approx(g["shuffle_write_mb"])


def test_task_totals_match_the_raw_events(events):
    stage_job = {}
    for e in events:
        if e["Event"] == "SparkListenerJobStart":
            for sid in e["Stage IDs"]:
                stage_job[sid] = e["Properties"].get("spark.jobGroup.id")
    run = cpu = 0.0
    per_stage = {}
    for e in events:
        if e["Event"] == "SparkListenerTaskEnd" and stage_job[e["Stage ID"]] == GROUP:
            m = e["Task Metrics"]
            run += m["Executor Run Time"] / 1000
            cpu += m["Executor CPU Time"] / 1e9
            per_stage.setdefault(e["Stage ID"], []).append(m["Executor Run Time"] / 1000)
    g = eventlog.summarise(events, _key)[GROUP]
    assert g["task_run_s"] == pytest.approx(run)
    assert g["task_cpu_s"] == pytest.approx(cpu)
    assert g["task_skew"] == pytest.approx(eventlog.stage_skew(per_stage.values()))


def test_key_none_leaves_a_job_out(events):
    s = eventlog.summarise(events, lambda g, t: g)
    assert set(s) == {GROUP}


def test_merge_adds_fields_and_recomputes_skew(events):
    s = eventlog.summarise(events, _key)
    both = eventlog.merge(s.values())
    for f in ("jobs", "stages", "tasks", "task_run_s", "shuffle_write_mb"):
        assert both[f] == pytest.approx(s[GROUP][f] + s["ungrouped"][f])
    assert both["task_skew"] == pytest.approx(eventlog.stage_skew(
        s[GROUP]["_stage_times"] + s["ungrouped"]["_stage_times"]))
    assert set(eventlog.public(both)) == set(eventlog.FIELDS)
    json.dumps(eventlog.public(both))


def test_stage_skew():
    assert eventlog.stage_skew([[1.0, 1.0, 4.0]]) == pytest.approx(4.0)
    assert eventlog.stage_skew([[1.0, 1.0, 4.0], [2.0, 2.0]]) == pytest.approx(2.5)
    assert eventlog.stage_skew([[5.0]]) == 1.0  # one task: no skew
    assert eventlog.stage_skew([[0.0, 0.0, 0.3]]) == 1.0  # zero median
    assert eventlog.stage_skew([]) == 1.0


def test_log_files_orders_rolling_parts(tmp_path):
    d = tmp_path / "rolling" / "eventlog_v2_local-1"
    d.mkdir(parents=True)
    for n in ("events_10_local-1", "events_2_local-1", "events_1_local-1",
              "appstatus_local-1"):
        (d / n).write_text("")
    assert [os.path.basename(p) for p in eventlog.log_files(str(tmp_path / "rolling"))] == [
        "events_1_local-1", "events_2_local-1", "events_10_local-1"]
    single = tmp_path / "single"
    single.mkdir()
    (single / "local-2").write_text("")
    assert eventlog.log_files(str(single)) == [str(single / "local-2")]
