"""Pipeline configuration — the reference's ``config`` package rebuilt.

Mirrors /root/reference/config/config.go:14-27 (fields), :51-68
(validation), :72-109 (defaults + JSON load), with the documented
divergences from SURVEY.md §0.1:

- B2 fixed: the ``query`` key actually overrides the default query (the
  reference's lowercase struct field silently ignored it).
- B5 fixed: resume uses strict ``>`` per README.md:80-82; configurable
  via ``resume_inclusive`` for bug-compatible ``>=``.
- B3 fixed: the resume predicate is applied as a real filter expression
  (docpipe.resume), not a case-sensitive string splice.
- The lockfile (driver.go:94-111) is not ported: cluster schedulers own
  mutual exclusion.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass

# Validation bounds per /root/reference/config/config.go:52-58.
CHUNK_SIZE_MIN, CHUNK_SIZE_MAX = 10, 100_000
DEFAULT_CHUNK_SIZE = 20_000  # config.go:80

# Default query per /root/reference/config/config.go:78.
DEFAULT_QUERY = (
    "select id, txn_id, owner, content from documents "
    "WHERE NOT deleted ORDER BY id ASC"
)


class ConfigError(ValueError):
    pass


@dataclass
class ReindexConfig:
    # connection (config.go:15-19,22-24); defaults config.go:74-84
    dbhost: str = "localhost"
    dbname: str = "spofford"
    dbuser: str = "spofford"
    password: str = ""
    port: int = 5432
    solr_url: str = ""
    # pipeline shape (config.go:16,21,25-26)
    chunk_size: int = DEFAULT_CHUNK_SIZE
    workers: int = 0  # 0 → derive from parallelism (config.go:81,86-88)
    query: str = DEFAULT_QUERY
    start_id: str | None = None
    resume_inclusive: bool = False  # True restores reference bug B5 (>=)
    # enrichment (ingest.go:12-14, README.md:92-95)
    authorities: bool = False
    redis_url: str = ""

    def validate(self) -> "ReindexConfig":
        """Range/required checks per config.go:51-68."""
        if not (CHUNK_SIZE_MIN <= self.chunk_size <= CHUNK_SIZE_MAX):
            raise ConfigError(
                f"chunkSize must be between {CHUNK_SIZE_MIN} and "
                f"{CHUNK_SIZE_MAX}, got {self.chunk_size}"
            )
        if self.workers < 0:
            raise ConfigError(f"workers must be >= 0, got {self.workers}")
        max_workers = os.cpu_count() or 1
        if self.workers > max_workers:
            raise ConfigError(
                f"workers must be <= {max_workers}, got {self.workers}"
            )
        if not self.password:
            raise ConfigError("password is required")
        if not self.solr_url:
            raise ConfigError("solrUrl is required")
        if self.authorities and not self.redis_url:
            raise ConfigError("redisUrl is required when authorities is on")
        return self

    def effective_workers(self) -> int:
        """NumCPU-1 clamped >= 1 when unset (config.go:81,86-88)."""
        if self.workers > 0:
            return self.workers
        return max((os.cpu_count() or 2) - 1, 1)

    def jdbc_url(self) -> str:
        """The JDBC analogue of config.go:41-43's libpq URL."""
        return f"jdbc:postgresql://{self.dbhost}:{self.port}/{self.dbname}"

    # JSON key names follow the reference's config.json (README.md:57-72).
    _JSON_KEYS = {
        "dbhost": "dbhost",
        "dbname": "dbname",
        "dbuser": "dbuser",
        "password": "password",
        "port": "port",
        "solr_url": "solrUrl",
        "chunk_size": "chunkSize",
        "workers": "workers",
        "query": "query",
        "start_id": "startId",
        "authorities": "authorities",
        "redis_url": "redisUrl",
        "resume_inclusive": "resumeInclusive",
    }

    @classmethod
    def load(cls, *paths: str) -> "ReindexConfig":
        """Defaults-prefilled JSON load (config.go:72-109): later files
        override earlier ones; unknown keys rejected loudly (the
        reference silently ignored them — that is how bug B2 hid)."""
        conf = cls()
        reverse = {v: k for k, v in cls._JSON_KEYS.items()}
        for path in paths:
            with open(path) as fh:
                data = json.load(fh)
            for key, value in data.items():
                if key not in reverse:
                    raise ConfigError(f"unknown config key: {key!r}")
                setattr(conf, reverse[key], value)
        return conf.validate()
