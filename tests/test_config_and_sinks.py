"""Config loading (reference config.yaml compatibility), the service's
config wiring, and §2.F partitioned-layout pruning."""

from __future__ import annotations

from types import SimpleNamespace

import pytest
from pyspark.sql import functions as F

from logpump_spark.config import load_config, sanitize

CONFIG_YAML = """\
LogDirectoryMap:
  Map1: "/data/logs/a"
  Map2: "/data/logs/b"
RescanInterval: 20
FilePattern: "*.log"
BatchSize: 100
BatchInterval: 20
ClickHouse:
  Address: "localhost:9000"
  Username: "admin"
  Password: "secret"
  Database: "logs_db"
  DefaultTable: "logs"
  Protocol: "tcp"
  TableMap:
    DBMSSQL: "tech_log_sql"
    EXCP: "tech_log_errors"
"""


def test_load_config_roundtrip(tmp_path):
    p = tmp_path / "config.yaml"
    # BOM + tabs exercise the sanitize path (Parser.go:20-26)
    p.write_bytes(b"\xef\xbb\xbf" + CONFIG_YAML.replace("  Map1", "\tMap1", 1).encode())
    cfg = load_config(str(p))
    assert cfg.log_directory_map == {"Map1": "/data/logs/a", "Map2": "/data/logs/b"}
    assert cfg.file_pattern == "*.log"
    assert cfg.batch_size == 100 and cfg.batch_interval == 20
    assert cfg.clickhouse.database == "logs_db"
    assert cfg.clickhouse.table_map["EXCP"] == "tech_log_errors"
    # extension key absent -> CWD-relative default
    assert cfg.checkpoint_dir == "_checkpoints/techlog"


def test_config_checkpoint_dir_extension_key(tmp_path):
    p = tmp_path / "config.yaml"
    p.write_text(CONFIG_YAML + 'CheckpointDir: "/var/ckpt/techlog"\n')
    assert load_config(str(p)).checkpoint_dir == "/var/ckpt/techlog"


def test_config_validation(tmp_path):
    p = tmp_path / "bad.yaml"
    p.write_text(CONFIG_YAML.replace('FilePattern: "*.log"', 'FilePattern: ""'))
    with pytest.raises(ValueError, match="FilePattern"):
        load_config(str(p))


def test_sanitize_bom_and_tabs():
    assert sanitize(b"\xef\xbb\xbfkey:\tv") == "key:  v"


def test_service_passes_config_path_for_hot_reload(tmp_path, monkeypatch):
    # `python -m logpump_spark --config X` must hand X to the stream so
    # the sink can hot-reload routing from it
    import logpump_spark.__main__ as service

    p = tmp_path / "config.yaml"
    p.write_text(CONFIG_YAML)
    seen = {}

    class Built(Exception):
        pass

    def fake_build(*args, **kwargs):
        seen.update(kwargs)
        raise Built

    # the metrics listener attaches to spark.streams before the build
    fake_spark = SimpleNamespace(streams=SimpleNamespace(addListener=lambda _l: None))
    monkeypatch.setattr(service, "get_spark", lambda *a, **k: fake_spark)
    monkeypatch.setattr(service, "build_techlog_stream", fake_build)
    monkeypatch.setattr("sys.argv", ["logpump_spark", "--config", str(p), "--drain"])
    with pytest.raises(Built):
        service.main()
    assert seen["config_path"] == str(p)


def test_partitioned_layout_prunes(spark, tmp_path):
    """§2.F: EventDate-partitioned writes answer date-sliced queries with
    partition pruning (the MergeTree PARTITION BY analog)."""
    base = str(tmp_path / "part")
    df = spark.createDataFrame(
        [("2025-05-26", i, "a") for i in range(10)]
        + [("2025-05-27", i, "b") for i in range(10)],
        "EventDate string, n long, v string",
    )
    df.write.partitionBy("EventDate").parquet(base)

    back = spark.read.parquet(base).filter(F.col("EventDate") == "2025-05-26")
    assert back.count() == 10
    explained = back._jdf.queryExecution().toString()
    # the date predicate must be a PartitionFilter, not a data filter
    assert "PartitionFilters: [" in explained
    assert "isnotnull(EventDate" in explained
