"""``load_table`` infers a table's schema once per file content.

Inference is a Spark job over a footer; the job counts below, unlike
timings, do not move with host load.
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.errors import AnalysisException
from pyspark.sql.types import StructType

from schwab_elt_etl_pipeline_spark.sources import tables
from schwab_elt_etl_pipeline_spark.sources.tables import load_table
from schwab_elt_etl_pipeline_spark.testing.jobs import jobs_launched


def _write(path, **cols) -> None:
    pq.write_table(pa.table(cols), str(path))


def _load(spark, sf_dir, name):
    out = []
    jobs = jobs_launched(spark, lambda: out.append(load_table(spark, str(sf_dir), name)))
    return out[0], jobs


def test_second_load_of_an_unchanged_file_launches_no_job(spark, tmp_path):
    _write(tmp_path / "t.parquet", k=[1, 2], v=["a", "b"])
    first, jobs = _load(spark, tmp_path, "t")
    assert jobs >= 1  # the inference the memo saves
    second, jobs = _load(spark, tmp_path, "t")
    assert jobs == 0
    assert second.schema == first.schema
    assert sorted(tuple(r) for r in second.collect()) == [(1, "a"), (2, "b")]


def test_a_rewritten_file_is_inferred_again(spark, tmp_path):
    _write(tmp_path / "t.parquet", k=[1], v=["a"])
    assert load_table(spark, str(tmp_path), "t").columns == ["k", "v"]
    _write(tmp_path / "t.parquet", k=[1], v=["a"], w=[2.5])
    df, jobs = _load(spark, tmp_path, "t")
    assert jobs >= 1
    assert df.columns == ["k", "v", "w"]
    assert tuple(df.first()) == (1, "a", 2.5)


def test_a_directory_that_gains_a_part_file_is_inferred_again(spark, tmp_path):
    table = tmp_path / "t.parquet"
    table.mkdir()
    _write(table / "part-0.parquet", k=[1])
    load_table(spark, str(tmp_path), "t")
    assert _load(spark, tmp_path, "t")[1] == 0
    _write(table / "part-1.parquet", k=[2])
    df, jobs = _load(spark, tmp_path, "t")
    assert jobs >= 1
    assert sorted(r["k"] for r in df.collect()) == [1, 2]


def test_events_ts_stays_timestamp_ntz(spark, sf_dir):
    for _ in range(2):  # the inferring load, then the remembered schema
        df, jobs = _load(spark, sf_dir, "events")
        assert dict(df.dtypes)["ts"] == "timestamp_ntz"
    assert jobs == 0
    assert df.where("ts IS NULL").isEmpty()


def test_a_missing_path_raises_sparks_own_error(spark, tmp_path):
    with pytest.raises(AnalysisException) as direct:
        spark.read.parquet(str(tmp_path / "gone.parquet"))
    with pytest.raises(AnalysisException) as loaded:
        load_table(spark, str(tmp_path), "gone")
    assert loaded.value.getCondition() == direct.value.getCondition() == "PATH_NOT_FOUND"
    assert os.path.abspath(tmp_path / "gone.parquet") not in tables._SCHEMAS


def test_a_path_os_stat_cannot_see_always_infers(spark, tmp_path):
    _write(tmp_path / "t.parquet", k=[1])
    uri = f"file://{tmp_path}"
    for _ in range(2):
        df, jobs = _load(spark, uri, "t")
        assert jobs >= 1
        assert df.first()["k"] == 1


def test_the_memo_stays_bounded_and_holds_no_jvm_object(spark, tmp_path, monkeypatch):
    monkeypatch.setattr(tables, "_SCHEMAS", {})
    monkeypatch.setattr(tables, "_SCHEMAS_MAX", 3)
    for i in range(7):
        _write(tmp_path / f"t{i}.parquet", k=[i])
        load_table(spark, str(tmp_path), f"t{i}")
        assert 1 <= len(tables._SCHEMAS) <= 3
    for sig, schema in tables._SCHEMAS.values():
        assert isinstance(schema, StructType)
        assert all(isinstance(x, (str, int)) for entry in sig for x in entry)
