"""Extract stage: HTTP download of daily dump files (S1/S2).

Re-expresses `scripts/python/download_blockchair_data.py`: streamed
chunked download per (coin, data_type, date) with bounded retries and
exponential backoff, landing-zone layout `data/<coin>/<type>/`, and
retention sweep of files older than N days.

Network I/O stays on the driver (or an external fetcher) by design —
SURVEY.md §2 S1: executors scale compute over files already landed;
fetching inside tasks would couple job retries to remote-server
behavior. `urllib` is stdlib, so no optional dependencies.
"""

from __future__ import annotations

import gzip
import json
import os
import re
import time
import urllib.request
from collections.abc import Mapping
from dataclasses import dataclass
from datetime import date, datetime, timedelta
from pathlib import Path

DEFAULT_TIMEOUT_SECS = 30.0
DEFAULT_CHUNK_BYTES = 8192
DEFAULT_RETRIES = 3
BACKOFF_MIN_SECS = 4.0
BACKOFF_MAX_SECS = 10.0


@dataclass
class DownloadConfig:
    base_url: str = "https://gz.blockchair.com"
    coin: str = "bitcoin"
    data_types: tuple[str, ...] = ("blocks", "transactions", "inputs", "outputs")
    landing_dir: str = "data"
    retention_days: int = 3
    api_key: str | None = None


# JSON-schema for user-supplied download config (S1 surface; mirrors the
# reference's DOWNLOAD_SCHEMA, download_blockchair_data.py:87-103).
DOWNLOAD_CONFIG_SCHEMA: dict = {
    "type": "object",
    "properties": {
        "//": {"type": "string"},
        "base_url": {"type": "string", "pattern": "^https?://"},
        "api_key": {"type": ["string", "null"]},
        "coin": {"type": "string"},
        "data_types": {
            "type": "array",
            "items": {
                "type": "string",
                "enum": ["blocks", "transactions", "inputs", "outputs"],
            },
        },
        "file_format": {"type": "string", "enum": ["tsv.gz"]},
        "destination_dir": {"type": "string"},
        "retention_days": {"type": ["string", "integer"], "pattern": "^[0-9]+$", "minimum": 1},
    },
    "required": ["base_url", "data_types", "file_format", "destination_dir", "retention_days"],
}


class ConfigError(ValueError):
    """Download config failed schema validation or env substitution."""


_JSON_TYPES = {
    "object": dict,
    "array": list,
    "string": str,
    "integer": int,
    "null": type(None),
}


def _check_value(key: str, value, spec: dict) -> None:
    types = spec.get("type")
    if types is not None:
        allowed = tuple(_JSON_TYPES[t] for t in ([types] if isinstance(types, str) else types))
        # bool is an int subclass in Python but not in JSON
        if isinstance(value, bool) and bool not in allowed:
            raise ConfigError(f"{key}: expected {types}, got boolean")
        if not isinstance(value, allowed):
            raise ConfigError(f"{key}: expected {types}, got {type(value).__name__}")
    if "enum" in spec and value not in spec["enum"]:
        raise ConfigError(f"{key}: {value!r} not in {spec['enum']}")
    if "pattern" in spec and isinstance(value, str) and not re.search(spec["pattern"], value):
        raise ConfigError(f"{key}: {value!r} does not match {spec['pattern']!r}")
    if "minimum" in spec and isinstance(value, int) and not isinstance(value, bool):
        if value < spec["minimum"]:
            raise ConfigError(f"{key}: {value} < minimum {spec['minimum']}")
    if "items" in spec and isinstance(value, list):
        for i, item in enumerate(value):
            _check_value(f"{key}[{i}]", item, spec["items"])


def validate_download_config(config: dict, schema: dict = DOWNLOAD_CONFIG_SCHEMA) -> None:
    """Validate a config mapping against the (reference-shaped) schema
    subset: type / enum / pattern / minimum / items / required."""
    if not isinstance(config, dict):
        raise ConfigError(f"config must be an object, got {type(config).__name__}")
    for key in schema.get("required", []):
        if key not in config:
            raise ConfigError(f"missing required key: {key}")
    for key, value in config.items():
        spec = schema["properties"].get(key)
        if spec is not None:
            _check_value(key, value, spec)


def substitute_env_vars(
    config: dict,
    required: tuple[str, ...] | list[str] = (),
    env: Mapping[str, str] | None = None,
) -> dict:
    """Replace top-level ``"${VAR}"`` / ``"${VAR:-default}"`` string
    values from the environment (download_blockchair_data.py:124-129).
    A required key resolving to empty raises."""
    env = os.environ if env is None else env
    out = dict(config)
    for key, value in out.items():
        if isinstance(value, str) and value.startswith("${") and value.endswith("}"):
            env_var, *default = value[2:-1].split(":-")
            out[key] = env.get(env_var, default[0] if default else "")
            if not out[key] and key in required:
                raise ConfigError(
                    f"environment variable {env_var} not set and no default provided"
                )
    return out


def load_download_config(
    source: dict | str | Path, env: Mapping[str, str] | None = None
) -> DownloadConfig:
    """Load, env-substitute, validate and type a download config.

    Accepts a mapping or a JSON file path. Field mapping to
    :class:`DownloadConfig`: destination_dir → landing_dir;
    retention_days accepts digit-strings (normalized to int, as the
    reference does before validating); coin defaults to bitcoin.
    """
    if isinstance(source, (str, Path)):
        with open(source) as f:
            config = json.load(f)
    else:
        config = dict(source)
    config = substitute_env_vars(
        config, required=DOWNLOAD_CONFIG_SCHEMA["required"], env=env
    )
    if isinstance(config.get("retention_days"), int) and not isinstance(
        config.get("retention_days"), bool
    ):
        config["retention_days"] = str(config["retention_days"])
    validate_download_config(config)
    return DownloadConfig(
        base_url=config["base_url"],
        coin=config.get("coin", "bitcoin"),
        data_types=tuple(config["data_types"]),
        landing_dir=config["destination_dir"],
        retention_days=int(config["retention_days"]),
        api_key=config.get("api_key"),
    )


def _dump_name(cfg: DownloadConfig, data_type: str, day: date) -> str:
    return f"blockchair_{cfg.coin}_{data_type}_{day.strftime('%Y%m%d')}.tsv.gz"


def dump_url(cfg: DownloadConfig, data_type: str, day: date) -> str:
    """URL scheme of the daily dump feed
    (download_blockchair_data.py:306-311)."""
    url = f"{cfg.base_url}/{cfg.coin}/{data_type}/{_dump_name(cfg, data_type, day)}"
    if cfg.api_key:
        url += f"?key={cfg.api_key}"
    return url


def download_file(
    url: str,
    dest: Path,
    timeout: float = DEFAULT_TIMEOUT_SECS,
    chunk_bytes: int = DEFAULT_CHUNK_BYTES,
    retries: int = DEFAULT_RETRIES,
    _opener=None,
) -> Path:
    """Streamed download with retry ×3 and exponential backoff 4-10s
    (download_blockchair_data.py:181-215). `_opener` is injectable for
    tests (no live network in CI)."""
    opener = _opener or urllib.request.urlopen
    dest.parent.mkdir(parents=True, exist_ok=True)
    last_err: Exception | None = None
    for attempt in range(retries):
        try:
            with opener(url, timeout=timeout) as resp, open(dest, "wb") as out:
                while True:
                    chunk = resp.read(chunk_bytes)
                    if not chunk:
                        break
                    out.write(chunk)
            return dest
        except Exception as e:  # noqa: BLE001 — retry any transport error
            last_err = e
            if attempt < retries - 1:
                time.sleep(min(BACKOFF_MIN_SECS * (2**attempt), BACKOFF_MAX_SECS))
    raise ConnectionError(f"download failed after {retries} attempts: {url}") from last_err


def download_daily(
    cfg: DownloadConfig,
    day: date | None = None,
    skip_existing: bool = True,
    _opener=None,
) -> list[Path]:
    """Fetch yesterday's files per data type into the landing layout
    (the pipeline default, download_blockchair_data.py:305-306)."""
    day = day or (datetime.now().date() - timedelta(days=1))
    out: list[Path] = []
    for dt in cfg.data_types:
        dest = Path(cfg.landing_dir) / cfg.coin / dt / _dump_name(cfg, dt, day)
        if skip_existing and dest.exists():
            out.append(dest)
            continue
        out.append(download_file(dump_url(cfg, dt, day), dest, _opener=_opener))
    return out


def clean_old_files(cfg: DownloadConfig, today: date | None = None) -> list[Path]:
    """Retention sweep: delete landed files older than retention_days,
    judged by the date embedded in the filename
    (download_blockchair_data.py:218-246)."""
    from .sources import parse_dump_filename

    today = today or datetime.now().date()
    cutoff = today - timedelta(days=cfg.retention_days)
    removed: list[Path] = []
    root = Path(cfg.landing_dir) / cfg.coin
    if not root.exists():
        return removed
    for f in root.rglob("*.tsv.gz"):
        parsed = parse_dump_filename(f.name)
        if parsed and datetime.strptime(parsed[2], "%Y%m%d").date() < cutoff:
            f.unlink()
            removed.append(f)
    return removed


def write_gzip_tsv(path: Path, header: list[str], rows: list[list]) -> Path:
    """Test/fixture helper: write a gzip'd TSV in the dump format."""
    path.parent.mkdir(parents=True, exist_ok=True)
    with gzip.open(path, "wt") as f:
        f.write("\t".join(header) + "\n")
        for r in rows:
            f.write("\t".join("" if v is None else str(v) for v in r) + "\n")
    return path
