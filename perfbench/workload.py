"""What every workload hands back to the runner."""

from __future__ import annotations

from dataclasses import dataclass, field


@dataclass
class Op:
    """One operation: a registry query, or one read or write call."""

    name: str
    kind: str  # "read" or "write"
    seconds: float
    ok: bool
    error: str | None = None
    rows: int = 0  # user rows a write committed
    user_bytes: int = 0  # uncompressed bytes of those rows


@dataclass
class Pass:
    seconds: float
    ops: list[Op] = field(default_factory=list)


def first_line(exc: BaseException) -> str:
    text = f"{type(exc).__name__}: {exc}"
    return text.splitlines()[0][:300]
