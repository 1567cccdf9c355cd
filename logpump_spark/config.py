"""Service configuration compatible with the reference's config.yaml.

Faithful to /root/reference/internal/config (config.go:49-59, Parser.go):
- sanitize: strip UTF-8 BOM, expand tabs to two spaces (Parser.go:20-26)
- required: LogDirectoryMap non-empty, FilePattern, positive BatchSize/
  BatchInterval, ClickHouse Address+Database (Parser.go:38-58)
- TableMap routes LogEntry.Component -> sink table with DefaultTable
  fallback (clickhouse.go:66-71)

Mapping to the Spark engine:
- LogDirectoryMap values -> streaming source input dirs
- FilePattern            -> pathGlobFilter
- BatchInterval          -> trigger(processingTime)
- BatchSize              -> parsed and validated only: micro-batching
  replaces exact row-count flushes (SURVEY.md §7.2)
- RescanInterval         -> subsumed by per-micro-batch file discovery
- ProcessedStorage/Redis -> subsumed by checkpointLocation (stronger:
  per-batch commit vs 30 s persistence; SURVEY.md §2.E)
- ClickHouse             -> HTTP INSERT sink (sources/clickhouse.py)
  when Protocol is "http"; any other Protocol runs only the parquet sink,
  with a startup warning (__main__.py)

Config hot-reload (scan.go:24-52): the streaming sink re-parses the
config per micro-batch on mtime change and swaps routing live
(streaming/job.py build_techlog_stream(config_path=...)); source dirs /
trigger cadence remain restart-based (they are baked into the running
query plan).
"""

from __future__ import annotations

import io
from dataclasses import dataclass, field

try:
    import yaml  # type: ignore

    _HAVE_YAML = True
except ImportError:  # minimal fallback parser below keeps us dependency-free
    _HAVE_YAML = False


@dataclass
class ClickHouseConfig:
    address: str = ""
    username: str = ""
    password: str = ""
    database: str = ""
    default_table: str = "logs"
    protocol: str = "tcp"
    table_map: dict[str, str] = field(default_factory=dict)


@dataclass
class PumpConfig:
    log_directory_map: dict[str, str] = field(default_factory=dict)
    file_pattern: str = "*.log"
    batch_size: int = 100
    batch_interval: int = 20
    rescan_interval: int = 20
    clickhouse: ClickHouseConfig = field(default_factory=ClickHouseConfig)
    checkpoint_dir: str = "_checkpoints/techlog"

    def validate(self) -> None:
        """Same required-field rules as the reference (Parser.go:38-58)."""
        if not self.log_directory_map:
            raise ValueError("LogDirectoryMap must not be empty")
        if not self.file_pattern:
            raise ValueError("FilePattern must not be empty")
        if self.batch_size <= 0:
            raise ValueError("BatchSize must be positive")
        if self.batch_interval <= 0:
            raise ValueError("BatchInterval must be positive")
        if not self.clickhouse.address:
            raise ValueError("ClickHouse.Address must not be empty")
        if not self.clickhouse.database:
            raise ValueError("ClickHouse.Database must not be empty")


def sanitize(raw: bytes) -> str:
    """BOM strip + tab expansion, byte-for-byte what the reference does
    (Parser.go:20-26)."""
    if raw.startswith(b"\xef\xbb\xbf"):
        raw = raw[3:]
    return raw.replace(b"\t", b"  ").decode("utf-8")


def _mini_yaml(text: str) -> dict:
    """Two-level YAML subset parser (mappings + scalars), enough for the
    reference's config shape, used only when PyYAML is unavailable."""
    root: dict = {}
    stack: list[tuple[int, dict]] = [(0, root)]
    for line in io.StringIO(text):
        stripped = line.split("#", 1)[0].rstrip()
        if not stripped.strip():
            continue
        indent = len(stripped) - len(stripped.lstrip())
        key, _, value = stripped.strip().partition(":")
        value = value.strip().strip('"').strip("'")
        while stack and indent < stack[-1][0]:
            stack.pop()
        container = stack[-1][1]
        if value == "":
            child: dict = {}
            container[key] = child
            stack.append((indent + 2, child))
        else:
            if value.lstrip("-").isdigit():
                container[key] = int(value)
            elif value.lower() in ("true", "false"):
                container[key] = value.lower() == "true"
            else:
                container[key] = value
    return root


def load_config(path: str) -> PumpConfig:
    with open(path, "rb") as f:
        text = sanitize(f.read())
    data = yaml.safe_load(text) if _HAVE_YAML else _mini_yaml(text)
    ch = data.get("ClickHouse", {}) or {}
    cfg = PumpConfig(
        log_directory_map=data.get("LogDirectoryMap", {}) or {},
        file_pattern=data.get("FilePattern", "*.log"),
        batch_size=int(data.get("BatchSize", 100)),
        batch_interval=int(data.get("BatchInterval", 20)),
        rescan_interval=int(data.get("RescanInterval", 20)),
        # extension key (the reference has no checkpoint concept — its
        # offset store is ProcessedStorage); optional, defaults to the
        # CWD-relative _checkpoints/techlog
        checkpoint_dir=data.get("CheckpointDir", "_checkpoints/techlog"),
        clickhouse=ClickHouseConfig(
            address=ch.get("Address", ""),
            username=ch.get("Username", ""),
            password=ch.get("Password", ""),
            database=ch.get("Database", ""),
            default_table=ch.get("DefaultTable", "logs"),
            protocol=ch.get("Protocol", "tcp"),
            table_map=ch.get("TableMap", {}) or {},
        ),
    )
    cfg.validate()
    return cfg
