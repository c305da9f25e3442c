"""Dotted field-path resolution.

Mirrors the reference's ``field_name_to_column`` (main.rs:260-262): nested
field addressing is a name-mangling convention — ``user.metrics.clicks`` and
``user_metrics_clicks`` address the same flattened column.
"""

from __future__ import annotations


def field_name_to_column(field_name: str) -> str:
    """``user.metrics.clicks`` → ``user_metrics_clicks`` (main.rs:261)."""
    return field_name.replace(".", "_")


def sql_ident(name: str) -> str:
    """``name`` as a backtick-quoted SQL identifier, so a column named
    ``a b`` or ``select`` can be spliced into an expression string."""
    return "`" + name.replace("`", "``") + "`"
