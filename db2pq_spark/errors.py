"""Engine error types.

The reference raises plain ``ValueError`` with specific messages for
planning mistakes (empty selection, duplicate output names, unknown
col_types keys — reference: db2pq/postgres/column_filter.py:47-48,
db2pq/postgres/select_sql.py:80-86,96-105). We keep dedicated exception
classes (all ValueError subclasses) so callers can catch precisely while
messages stay reference-compatible.
"""

from __future__ import annotations


class PlanError(ValueError):
    """Invalid query plan (bad columns, renames, types)."""


class EmptySelectionError(PlanError):
    """keep/drop filtering removed every column."""


class DuplicateOutputError(PlanError):
    """rename mapping produced duplicate output column names."""


class UnknownColumnError(PlanError):
    """col_types / rename referenced a column that does not exist."""


class UnknownTypeError(PlanError):
    """col_types referenced a type alias the engine does not know."""
