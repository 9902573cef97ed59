"""One memo policy for the package's process-wide caches.

The enrichment and relationship rules are pure functions of strings
that recur across documents (boilerplate descriptions, section titles,
severity labels), so an executor keeps their results across batches.
Every such cache is a :class:`Memo` and follows one admission rule: a
result is stored while the memo holds fewer than its cap of entries and
every string in the key is at most ``_MEMO_MAX_LEN`` characters. An
entry cap alone would let a stream of unique multi-KB giant-doc strings
pin executor memory with ~zero hit rate (and then block the short
boilerplate strings the memos exist for), so long strings take the
uncached path. A key that cannot be hashed is computed without caching.

Unbounded memos over a finite set of constant patterns use
``functools.cache`` instead.
"""

from __future__ import annotations

import functools
from typing import Any, Callable

_MEMO_MAX_LEN = 4096
_MISS = object()


class Memo(dict):
    """A process-wide memo of at most ``cap`` entries. Reads are plain
    dict reads; :meth:`admit` is the only way in."""

    __slots__ = ("cap",)

    def __init__(self, cap: int) -> None:
        super().__init__()
        self.cap = cap

    def admit(self, key: Any, value: Any) -> Any:
        """Store ``value`` under ``key`` if the policy admits it; return
        ``value``."""
        if len(self) < self.cap:
            for p in key if isinstance(key, tuple) else (key,):
                if isinstance(p, str) and len(p) > _MEMO_MAX_LEN:
                    return value
            self[key] = value
        return value

    def lookup(self, key: Any, compute: Callable, args: tuple) -> Any:
        """``compute(*args)``, memoized under ``key``."""
        try:
            hit = self.get(key, _MISS)
        except TypeError:       # unhashable key: compute, no memo
            return compute(*args)
        return self.admit(key, compute(*args)) if hit is _MISS else hit


def memoized(cap: int) -> Callable[[Callable], Callable]:
    """Decorator: memoize a function on its positional arguments in a
    ``Memo(cap)``."""
    def wrap(fn: Callable) -> Callable:
        memo = Memo(cap)

        @functools.wraps(fn)
        def call(*args: Any) -> Any:
            return memo.lookup(args, fn, args)
        return call
    return wrap
