"""Engine configuration.

ref: internal/config.go:12-37 (fields + defaults) and pkg/retry/retry.go:82-93
(retry defaults). Env-var override names follow the reference's
``CRAWLER_*`` convention (internal/config.go:107-139).
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field


def _env_int(name: str, default: int) -> int:
    v = os.environ.get(name)
    return int(v) if v else default


@dataclass(frozen=True)
class RetryConfig:
    """ref: pkg/retry/retry.go:82-93 — 3 attempts, 1s delay, 3s cap,
    backoff factor 1, jitter factor 0.1."""

    max_attempts: int = 3
    delay_s: float = 1.0
    max_delay_s: float = 3.0
    backoff_factor: float = 1.0
    jitter_factor: float = 0.1

    def validate(self) -> None:
        if self.max_attempts < 1:
            raise ValueError("max_attempts must be >= 1")
        if self.delay_s < 0 or self.max_delay_s < 0:
            raise ValueError("delays must be non-negative")


@dataclass(frozen=True)
class CrawlConfig:
    """ref: internal/config.go:29-37 defaults (MaxCount=100,
    Timeout=30s, MaxFileSize=64MB). The reference's MaxConcurrent has no
    field: Spark's task scheduler runs the work and ``shuffle_partitions``
    sets its parallelism. Fields marked [EXTENSION] implement north-rule
    capabilities absent from the reference (depth limit, politeness,
    bloom filter, checkpointing).
    """

    max_count: int = 100            # page budget; seed counts (queue.go:101-106)
    max_file_size: int = 64 * 1024 * 1024  # bytes (config.go:37)
    output_dir: str = "./out"
    retry: RetryConfig = field(default_factory=RetryConfig)

    # [EXTENSION] north-rule additions
    max_depth: int = 2**31 - 1      # depth limit; children deeper are never enqueued
    host_slots_per_round: int = 0   # politeness: max fetches/host/round; 0 = unlimited
    politeness_salts: int = 8       # salt count for skewed-host windows
    bloom_bits: int = 1 << 20       # bloom filter size in bits
    bloom_hashes: int = 5
    use_bloom: bool = True          # the bloom seen filter on/off
    # Activate the seen filter only once the seen log holds this many rows.
    # Below it the exact anti-join's build side broadcasts (no shuffle for
    # the bloom to prune) and the filter's two Arrow passes per round are
    # pure overhead — measured 35.5 s -> 20.7 s on the 48k-page flagship
    # bench. 0 = always on (tests that pin the filter path set this).
    bloom_min_seen_rows: int = 500_000
    shuffle_partitions: int = 32
    frontier_buckets: int = 32      # partitioning of frontier/seen by xxhash64(url)
    broadcast_fetch_max_rows: int = 5_000_000
    # fetch-join strategy gate: frontier rounds up to this many rows are
    # broadcast into the corpus scan (~100s of MB of URLs); beyond it the
    # fetch join falls back to a shuffle-hash join on url — a billion-row
    # round cannot broadcast (operators/fetch.py)
    normalize_urls: bool = False
    # [EXTENSION] apply RFC 3986 §6.2.2 syntax-based normalization
    # (functions/urls.py::rfc3986_normalize_expr) to every URL entering
    # the frontier — seeds and extracted children — BEFORE the seen-check,
    # so trivially-equivalent spellings (case, default port, unreserved
    # percent-encodings) collapse to one identity and are fetched once.
    # Off by default: the reference keys identity on the raw canonical
    # string (Queueable.ItemId, models.go:149-151), and the flag changes
    # the seen-set identity — a resumed crawl must use the SAME setting
    # as the original run (like the robots/redirect-map note).
    seeds_unique: bool = False
    # caller-asserted: the distributed seed table has no duplicate urls
    # (e.g. a prior crawl's seen export, primary-keyed). Skips the seed
    # distinct — a full shuffle of the seed table, the dominant avoidable
    # cost of round 0 at 10^10-URL scale. Semantics are unchanged when the
    # assertion holds; duplicate seeds under the flag would double-enqueue
    # (same trade as Spark's own dropDuplicates-free joins on trusted keys)

    @staticmethod
    def from_env(**overrides) -> "CrawlConfig":
        """env → overrides → validate, mirroring LoadConfig
        (ref: internal/config.go:25-57)."""
        base = dict(
            max_count=_env_int("CRAWLER_MAX_COUNT", 100),
            max_file_size=_env_int("CRAWLER_MAX_FILE_SIZE", 64 * 1024 * 1024),
            output_dir=os.environ.get("CRAWLER_OUTPUT_DIR", "./out"),
        )
        base.update(overrides)
        cfg = CrawlConfig(**base)
        cfg.validate()
        return cfg

    def validate(self) -> None:
        """ref: internal/config.go:59-83 — positivity + non-empty checks."""
        if self.max_count <= 0:
            raise ValueError("max_count must be positive")
        if self.max_file_size <= 0:
            raise ValueError("max_file_size must be positive")
        if not self.output_dir:
            raise ValueError("output_dir must be non-empty")
        if self.bloom_min_seen_rows < 0:
            raise ValueError("bloom_min_seen_rows must be >= 0")
        self.retry.validate()
