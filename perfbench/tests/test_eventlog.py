"""The event-log parser on a tiny committed log (Spark 4.1 field
names: uncompressed, non-rolling, one JSON event per line)."""

import os

from perfbench import eventlog

LOG = os.path.join(os.path.dirname(__file__), "data", "tiny_eventlog.json")


def test_metrics_attributed_to_job_groups():
    g = eventlog.parse_file(LOG)
    build, execute, none = g["1:q/build"], g["1:q/execute"], g[None]
    assert (build["jobs"], build["tasks"], build["task_run_ms"], build["gc_ms"]) == (1, 1, 100, 5)
    assert build["scan_records"] == 1000
    assert (execute["jobs"], execute["tasks"], execute["task_run_ms"]) == (1, 2, 70)
    assert execute["spill_bytes"] == 10
    assert execute["shuffle_write_bytes"] == 500
    assert execute["shuffle_read_bytes"] == 500
    assert execute["fetch_wait_ms"] == 2
    assert (execute["python_exec_ms"], execute["python_bytes_sent"],
            execute["python_bytes_received"]) == (30, 1000, 200)
    # driver-side scan metrics, named through the execution's plan info
    assert (execute["scan_files"], execute["scan_bytes"]) == (2, 4096)
    assert build["scan_files"] == 0
    assert (none["jobs"], none["tasks"], none["task_run_ms"]) == (1, 1, 9)
    assert set(build) == set(eventlog.KEYS)
