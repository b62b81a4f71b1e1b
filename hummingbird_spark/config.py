"""Migration config model (SURVEY §3.1 step 1).

Mirrors the reference's config surface — `Migrator` struct + defaults
(migrator.go:51-102, 264-311) and `Include` (includes.go:14-21, mask
validation includes.go:71-82) — as plain dataclasses parsed from the same
JSON shape (testdata/quickstart.json etc.). URIs become storage locations
(a directory of parquet tables) instead of mongodb:// endpoints.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field
from typing import Any

from hummingbird_spark.functions.masks import (
    MASK_DEFAULT,
    MASK_HEX,
    MASK_PARTIAL,
)
from hummingbird_spark.sources.catalog import split_namespace

# Defaults & caps — neutrino.go:17-22, migrator.go:283-305
MAX_BLOCK_SIZE = 10_000
DEFAULT_BLOCK_SIZE = 10_000
MAX_WORKERS = 16
DEFAULT_WORKERS = 8

VALID_COMMANDS = frozenset({"all", "config", "data", "data-only", "index"})


class ConfigError(ValueError):
    """Invalid migration config (ValidateMigratorConfig analogue)."""


@dataclass
class Include:
    """One namespace to copy: filter/limit/mask/rename options
    (includes.go:14-21)."""

    namespace: str
    to: str = ""
    filter: dict[str, Any] = field(default_factory=dict)
    limit: int = 0
    masks: list[str] = field(default_factory=list)
    method: str = ""

    def __post_init__(self) -> None:
        if not self.namespace:
            raise ConfigError("invalid namespace")  # includes.go:55-56
        if self.masks:
            # ConfigureMaskOption (includes.go:71-82)
            db, coll = split_namespace(self.namespace)
            if db == "*" or coll == "*":
                raise ConfigError(
                    f"{self.namespace}, wildcard is not supported with masking"
                )
            if not self.method:
                self.method = MASK_DEFAULT
            elif self.method not in (MASK_DEFAULT, MASK_HEX, MASK_PARTIAL):
                raise ConfigError(f"invalid mask method {self.method}")

    @property
    def target_namespace(self) -> str:
        return self.to or self.namespace


@dataclass
class MigrationConfig:
    """The `Migrator` config (migrator.go:51-80), storage-flavored:
    source/target are directories of parquet tables."""

    command: str
    source: str
    target: str
    includes: list[Include] = field(default_factory=list)
    drop: bool = False
    block: int = DEFAULT_BLOCK_SIZE
    workers: int = DEFAULT_WORKERS
    key: str = "_id"  # range-partition key (the reference hardwires _id)
    # D2 index analogue on parquet: point-lookup data skipping via
    # parquet bloom filters on these columns (the reference copies the
    # source's indexes, index_copier.go:14-62; columnar targets get
    # the equivalent read-pruning from footer blooms). ndv sizes the
    # filter — REQUIRED thinking at scale: the default 1M NDV made a
    # 31 KB fixture file grow to 1 MB+ of bloom bytes (measured).
    bloom_filter_cols: list[str] = field(default_factory=list)
    bloom_filter_ndv: int = 100_000

    def __post_init__(self) -> None:
        # ValidateMigratorConfig (migrator.go:277-311)
        if self.command not in VALID_COMMANDS:
            raise ConfigError(f"invalid command {self.command!r}")
        if not self.source or not self.target:
            raise ConfigError("source and target are required")
        if self.block <= 0 or self.block > MAX_BLOCK_SIZE:
            self.block = DEFAULT_BLOCK_SIZE
        if self.workers <= 0:
            self.workers = DEFAULT_WORKERS
        if self.workers > MAX_WORKERS:
            self.workers = MAX_WORKERS  # migrator.go:283-284

    @property
    def is_config(self) -> bool:  # start.go:29-47 command routing
        return self.command in ("all", "config", "index")

    @property
    def is_data(self) -> bool:
        return self.command in ("all", "data", "data-only")

    @classmethod
    def from_dict(cls, doc: dict[str, Any]) -> "MigrationConfig":
        includes = [
            Include(
                namespace=i.get("namespace", ""),
                to=i.get("to", ""),
                filter=i.get("filter", {}) or {},
                limit=int(i.get("limit", 0) or 0),
                masks=list(i.get("masks", []) or []),
                method=i.get("method", "") or "",
            )
            for i in doc.get("includes", []) or []
        ]
        return cls(
            command=doc.get("command", ""),
            source=doc.get("source", ""),
            target=doc.get("target", ""),
            includes=includes,
            drop=bool(doc.get("drop", False)),
            block=int(doc.get("block", DEFAULT_BLOCK_SIZE) or DEFAULT_BLOCK_SIZE),
            workers=int(doc.get("workers", DEFAULT_WORKERS) or DEFAULT_WORKERS),
            key=doc.get("key", "_id") or "_id",
            bloom_filter_cols=list(doc.get("bloom_filter_cols", []) or []),
            bloom_filter_ndv=int(doc.get("bloom_filter_ndv", 100_000)
                                 or 100_000),
        )

    @classmethod
    def from_file(cls, path: str) -> "MigrationConfig":
        with open(path) as f:
            return cls.from_dict(json.load(f))
