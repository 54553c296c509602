"""Typed engine errors (SURVEY §2.10 O9 — the reference's custom
error-code taxonomy, pkg/errs: collapsed to an exception hierarchy,
which is the idiomatic Python/Spark form of error codes).

Every failure a caller can act on gets its own type; everything
derives from EngineError so `except EngineError` is the coarse net.
"""

from __future__ import annotations


class EngineError(Exception):
    """Base for all ela_lib_spark errors."""


class IndexNotFoundError(EngineError):
    """Index directory missing or has no readable manifest."""


class IndexCorruptError(EngineError):
    """Manifest present but a referenced dataset is missing/unreadable."""


class SettingsError(EngineError):
    """Schema/settings translation failed (merge conflict, bad spec)."""


class MaintenanceLockError(EngineError):
    """Another compaction/GC holds the index's maintenance lock."""


class FlatCorpusError(EngineError):
    """Flat BM25 input is not in query/bm25.prepare_flat's shape."""


class SqlLiteralError(EngineError, ValueError):
    """A value has no exact SQL literal (NaN, inf, an int outside
    int64, or an unsupported type)."""


class DeltaEpochError(EngineError, ValueError):
    """A delta epoch id is negative or maps its docs past the doc-id
    range (streaming/incremental.apply_delta_batch)."""
