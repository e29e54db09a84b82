"""position.log / monitor.log text emitters (reference base_pipeline.rs:
365-390 record_checkpoint + monitor.rs flush + log4rs rolling config)."""

import json
import os

from ape_dts_spark.sources.generator import gen_changes, gen_pages_seed
from ape_dts_spark.streaming.monitor_log import (
    MonitorLogEmitter,
    RollingTextLog,
    position_from_log,
)


def test_position_line_format_and_parse(tmp_path):
    em = MonitorLogEmitter(str(tmp_path))
    em.log_position("current_position", {"job_id": "j1", "lsn": 42, "batch_id": 3})
    em.log_position(
        "checkpoint_position", {"type": "LakeCdc", "job_id": "j1", "lsn": 40, "batch_id": 3}
    )
    lines = open(tmp_path / "position.log").read().splitlines()
    assert len(lines) == 2
    # reference line shape: "<ts> | <kind> | {json}" with a type-tagged
    # payload, parseable by the from_log contract (first '{' to last '}')
    ts, kind, payload = lines[0].split(" | ", 2)
    assert kind == "current_position"
    assert json.loads(payload)["type"] == "LakeCdc"  # tag injected first
    p = position_from_log(lines[1])
    assert p == {"type": "LakeCdc", "job_id": "j1", "lsn": 40, "batch_id": 3}
    assert position_from_log("garbage line") is None


def test_monitor_line_format(tmp_path):
    em = MonitorLogEmitter(str(tmp_path))
    em.log_counter("pipeline", "job9", "record_count", {"sum": 120})
    em.log_counter("pipeline", "job9", "rt_per_query", {"avg_by_count": 815})
    lines = open(tmp_path / "monitor.log").read().splitlines()
    assert lines[0].split(" | ", 1)[1] == "pipeline | job9 | record_count | sum=120"
    assert lines[1].endswith("pipeline | job9 | rt_per_query | avg_by_count=815")


def test_rolling_fixed_window(tmp_path):
    log = RollingTextLog(str(tmp_path / "position.log"), max_bytes=120, backup_count=3)
    for i in range(40):
        log.write(f"line {i}")
    names = sorted(os.listdir(tmp_path))
    # live file + rolled position1..3, never more than backup_count backups
    assert "position.log" in names
    assert "position1.log" in names
    assert all(n in ("position.log", "position1.log", "position2.log", "position3.log")
               for n in names)
    # rolled file 1 is newer content than rolled file 2 (fixed-window shift)
    if "position2.log" in names:
        n1 = int(open(tmp_path / "position1.log").read().split("line ")[-1])
        n2 = int(open(tmp_path / "position2.log").read().split("line ")[-1])
        assert n1 > n2


def test_engine_emits_position_and_monitor_logs(spark, tmp_path):
    from ape_dts_spark.lake.table import LakeTable
    from ape_dts_spark.sources.generator import PAGES_COLS
    from ape_dts_spark.streaming.driver import CdcEngine, EngineConfig

    ch = str(tmp_path / "changes")
    gen_changes(spark, 100, 30, seed=5).write.parquet(ch)
    pp = str(tmp_path / "pages")
    t = LakeTable.create(pp, PAGES_COLS, bucket_key="url", bucket_count=4)
    t.append(gen_pages_seed(spark, 30, seed=5))
    logs = str(tmp_path / "logs")
    eng = CdcEngine(spark, EngineConfig(
        job_id="oplog", pages_path=pp, changes_path=ch,
        extract_text=False, log_dir=logs,
    ))
    eng.run()
    pos_lines = open(os.path.join(logs, "position.log")).read().splitlines()
    # one current + one checkpoint line per batch, positions parse and the
    # LAST checkpoint line equals the engine's committed hwm
    kinds = [ln.split(" | ")[1] for ln in pos_lines]
    assert kinds.count("current_position") == kinds.count("checkpoint_position") >= 1
    last = position_from_log(pos_lines[-1])
    hwm, batch = eng.committed_hwm()
    assert last["lsn"] == hwm and last["batch_id"] == batch
    mon_lines = open(os.path.join(logs, "monitor.log")).read().splitlines()
    counters = {ln.split(" | ")[3] for ln in mon_lines}
    assert {"record_count", "data_bytes", "rt_per_query"} <= counters
    # record_count sums over batches equal the engine's own metric
    total = sum(int(ln.rsplit("sum=", 1)[1]) for ln in mon_lines
                if " record_count | " in ln)
    assert total == eng.metrics["record_count"]


def test_counted_fallback_reports_records_and_bytes(spark, tmp_path):
    """With the Observation accessor unavailable every batch takes the
    counted fallback, which must still report the slice's records and html
    bytes, in the engine metrics and in monitor.log."""
    import pandas as pd

    from ape_dts_spark.lake.table import LakeTable
    from ape_dts_spark.sources.generator import PAGES_COLS
    from ape_dts_spark.streaming.driver import CdcEngine, EngineConfig

    ch = str(tmp_path / "changes")
    gen_changes(spark, 100, 30, seed=5).write.parquet(ch)
    pp = str(tmp_path / "pages")
    LakeTable.create(pp, PAGES_COLS, bucket_key="url", bucket_count=4)
    logs = str(tmp_path / "logs")
    eng = CdcEngine(spark, EngineConfig(
        job_id="fallback", pages_path=pp, changes_path=ch,
        extract_text=False, log_dir=logs, batch_lsn_width=40,
    ))
    eng._obs_accessor_ok = False
    summary = eng.run()
    assert summary["batches"] == 3
    html = pd.read_parquet(ch)["html"]
    want_bytes = sum(len(h) for h in html if h is not None)
    assert want_bytes > 0
    assert eng.metrics["record_count"] == 100
    assert eng.metrics["data_bytes"] == want_bytes
    mon_lines = open(os.path.join(logs, "monitor.log")).read().splitlines()
    logged = sum(int(ln.rsplit("sum=", 1)[1]) for ln in mon_lines if " data_bytes | " in ln)
    assert logged == want_bytes
