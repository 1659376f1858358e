"""RUN_ALL_STEPS-equivalent end-to-end test: a directory of dirty
entity CSVs goes through discovery → envelope inbox → checkpointed
drain → transform → validate → clean/error zones → merged-view marts,
and every planted defect lands where it should."""

from __future__ import annotations

import os
import shutil
import tempfile

import pytest
from pyspark.errors import StreamingQueryException

from data_integration_project_spark import pipeline
from data_integration_project_spark.pipeline import (
    drain_and_validate,
    ingest_csv_dir,
    run_full_pipeline,
)
from data_integration_project_spark.streaming.pipeline import ZonePaths

_CSVS = {
    "khachhang.csv": [
        "id,ho_ten,sdt,thanh_pho,email",
        "1,An Nguyen,0912345678,Ha Noi,an@example.vn",
        "1,An Nguyen,0912345678,Ha Noi,an@example.vn",  # duplicate id
        "2,Binh9 Tran,0987654321,Da Nang,binh@example.vn",  # digit in name
        "3,Chi Le,123,Hue,chi@example.vn",  # short phone
        "4,Dung Pham,0911222333,Hue,dung@",  # bad email
    ],
    "loaisanpham.csv": [
        "id,ten_loai,mo_ta",
        "1,An sang,Breakfast",
        "2,Do uong,Drinks",
        "3,,Empty name",  # blank name → error
    ],
    "tensanpham.csv": [
        "id,ten_san_pham,gia,loai",
        "1,Pho Bo,45000,An sang",
        "2,Ca Phe,abc,Do uong",  # unparseable price → 0 → error
        "3,Tra Da,-5,Do uong",  # negative price → error
    ],
    "nguyenlieu.csv": [
        "id,ten_nguyen_lieu,so_luong,don_vi,gia,ngay_nhap",
        "1,Ca phe hat,25,kg,180000,2024-01-03",
        "2,Sua,10,ban,22000,2024-01-03",  # unknown unit → error
    ],
    "dathang.csv": [
        "id,khach_hang_id,mon_id,so_luong,ngay_dat,trang_thai",
        "1,1,1,2,2024-01-05,NEW",
        "2,1,1,0,2024-01-06,DONE",  # qty 0 → error
        "3,1,1,1,2024-01-07,MAYBE",  # unknown status → error
    ],
}


def _write_csvs(data: str, csvs: dict[str, list[str]]) -> None:
    os.makedirs(data)
    for name, lines in csvs.items():
        with open(os.path.join(data, name), "w", encoding="utf-8-sig") as f:
            f.write("\n".join(lines) + "\n")


@pytest.fixture()
def pipeline_dirs():
    root = tempfile.mkdtemp(prefix="full_pipe_")
    data = os.path.join(root, "data")
    _write_csvs(data, _CSVS)
    yield root, data
    shutil.rmtree(root, ignore_errors=True)


def test_run_full_pipeline(spark, pipeline_dirs):
    root, data = pipeline_dirs
    run = run_full_pipeline(spark, data, os.path.join(root, "out"), run_id="t1")

    assert run.ingested == {
        "khach_hang": 5,
        "loai_mon": 3,
        "mon": 3,
        "nguyen_lieu": 2,
        "dat_hang": 3,
    }
    assert run.zone_counts["khach_hang"] == {"clean": 1, "error": 4}
    assert run.zone_counts["loai_mon"] == {"clean": 2, "error": 1}
    assert run.zone_counts["mon"] == {"clean": 1, "error": 2}
    assert run.zone_counts["nguyen_lieu"] == {"clean": 1, "error": 1}
    assert run.zone_counts["dat_hang"] == {"clean": 1, "error": 2}

    # canonical layout + lineage landed in the clean zone
    kh = spark.read.parquet(os.path.join(run.zones.clean, "khach_hang"))
    row = kh.collect()[0]
    assert row["customer_id"] == "1" and row["_source"] == "csv"
    assert row["_run_id"] == "t1" and row["_line_no"] == 1

    # error zone carries the reject reasons
    err = spark.read.parquet(os.path.join(run.zones.error, "khach_hang"))
    msgs = " ;; ".join(r["_errors"] for r in err.collect())
    for expected in ("duplicate customer_id", "ho_ten has illegal characters",
                     "invalid phone", "invalid email"):
        assert expected in msgs

    # marts: merged view registered and queryable via SQL
    n = spark.sql("SELECT COUNT(*) AS n FROM khach_hang_merged").collect()[0]["n"]
    assert n == 1
    src = spark.sql("SELECT source, COUNT(*) c FROM mon_merged GROUP BY source").collect()
    assert {r["source"] for r in src} == {"csv"}

    # cross-run history recorded (A4 across runs)
    from data_integration_project_spark.pipeline import run_history

    hist = {
        r["entity"]: (r["ingested"], r["clean"], r["error"])
        for r in run_history(spark, os.path.join(root, "out")).collect()
    }
    assert hist["khach_hang"] == (5, 1, 4)
    assert hist["dat_hang"] == (3, 1, 2)


def test_all_rows_rejected_gives_empty_mart(spark, tmp_path):
    data = str(tmp_path / "data")
    _write_csvs(data, {"dathang.csv": [_CSVS["dathang.csv"][0], "2,1,1,0,2024-01-06,DONE"]})
    run = run_full_pipeline(spark, data, str(tmp_path / "out"), run_id="t2")
    assert run.zone_counts == {"dat_hang": {"clean": 0, "error": 1}}
    assert spark.table("dat_hang_merged").count() == 0


def _zone_rows(spark, zones: ZonePaths, entity: str) -> list[tuple]:
    out = []
    for zone in (zones.clean, zones.error):
        # extract_time is the transform's wall-clock load stamp
        df = spark.read.parquet(os.path.join(zone, entity)).drop("extract_time")
        out.append((df.columns, sorted(map(tuple, df.collect()), key=repr)))
    return out


def test_concurrent_drain_matches_sequential(spark, pipeline_dirs):
    """Every entity's stream drained at once lands exactly the zone rows
    (verdicts and _errors included) of draining one entity at a time."""
    root, data = pipeline_dirs
    concurrent, sequential = ZonePaths(os.path.join(root, "a")), ZonePaths(os.path.join(root, "b"))
    entities = sorted(ingest_csv_dir(spark, data, concurrent, run_id="eq"))
    assert "mon" in entities and "khach_hang" in entities
    # both sides drain the same inbox files (extract_time included)
    shutil.copytree(concurrent.inbox, sequential.inbox)

    got = drain_and_validate(spark, concurrent, entities)
    want = {}
    for entity in entities:
        want.update(drain_and_validate(spark, sequential, [entity]))
    assert got == want
    for entity in entities:
        assert _zone_rows(spark, concurrent, entity) == _zone_rows(spark, sequential, entity), entity


def test_failing_stream_stops_the_others(spark, pipeline_dirs, monkeypatch):
    root, data = pipeline_dirs
    zones = ZonePaths(os.path.join(root, "out"))
    entities = sorted(ingest_csv_dir(spark, data, zones, run_id="boom"))
    transform = pipeline.transform_entity

    def failing_transform(entity, df):
        if entity == "mon":
            raise RuntimeError("mon validator broke")
        return transform(entity, df)

    monkeypatch.setattr(pipeline, "transform_entity", failing_transform)
    with pytest.raises(StreamingQueryException, match="mon validator broke"):
        drain_and_validate(spark, zones, entities)
    assert spark.streams.active == []


def test_ingest_sums_files_of_one_entity_in_caller_job_group(spark, tmp_path):
    header, *rows = _CSVS["khachhang.csv"]
    data = str(tmp_path / "data")
    _write_csvs(data, {"khachhang.csv": [header, *rows[:3]], "khachhang_2.csv": [header, *rows[3:]]})
    zones = ZonePaths(str(tmp_path / "out"))
    sc = spark.sparkContext
    sc.setJobGroup("ingest_scope", "ingest workers inherit the caller's job group")
    try:
        counts = ingest_csv_dir(spark, data, zones, run_id="two")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert counts == {"khach_hang": len(rows)}
    assert spark.read.text(os.path.join(zones.inbox, "khach_hang")).count() == len(rows)
    assert sc.statusTracker().getJobIdsForGroup("ingest_scope")
