import os

import eventlog

LOG = os.path.join(os.path.dirname(__file__), "logs", "eventlog_small.jsonl")


def parsed():
    return eventlog.parse(eventlog.read_events(LOG))


def test_jobs_stages_and_tasks_are_attributed_to_their_group():
    per, _ = parsed()
    assert set(per) == {"p0.0.ctas_orders", "p0.6.read_status"}
    ctas, read = per["p0.0.ctas_orders"], per["p0.6.read_status"]
    assert (ctas["jobs"], ctas["stages"], ctas["tasks"]) == (2, 2, 3)
    assert (read["jobs"], read["stages"], read["tasks"]) == (2, 2, 4)
    assert ctas["job_ms"] == 677
    assert read["shuffle_read_bytes"] == read["shuffle_write_bytes"] == 726
    assert read["jvm_gc_ms"] == 63
    assert ctas["input_bytes"] == 1396
    assert abs(ctas["executor_cpu_ms"] - 845.118246) < 1e-6  # ns -> ms


def test_ungrouped_job_is_not_attributed():
    per, jobs = parsed()
    assert sum(g["executor_run_ms"] for g in per.values()) == 1104 + 265
    ungrouped = [j for j in jobs if j.group is None]
    assert len(ungrouped) == 1 and ungrouped[0].end_ms - ungrouped[0].start_ms == 10


def test_rolling_log_directory(tmp_path):
    lines = open(LOG).read().splitlines(keepends=True)
    (tmp_path / "events_2_app").write_text("".join(lines[10:]))
    (tmp_path / "events_1_app").write_text("".join(lines[:10]))
    (tmp_path / "appstatus_app").write_text("")
    assert eventlog.parse(eventlog.read_events(str(tmp_path)))[0] == parsed()[0]
    assert eventlog.find_log(str(tmp_path.parent), tmp_path.name) == str(tmp_path)
