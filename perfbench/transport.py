"""In-process webhook transport for the send cycle.

A POST fails for a deterministic, seeded share of (company, attempt)
pairs, decided by md5 (Python's ``hash`` is salted per process, and
the transport runs in Spark's Python workers).  Lives in its own
module so the workers unpickle it by import path.
"""

from __future__ import annotations

import hashlib
import json


class SeededTransport:
    def __init__(self, seed: int, attempt: int, fail_rate: float) -> None:
        self.seed = seed
        self.attempt = attempt
        self.cutoff = int(fail_rate * 2**32)

    @classmethod
    def factory(cls, seed: int, fail_rate: float):
        """``post_with_retry``'s transport factory: attempt -> transport."""
        return lambda attempt: cls(seed, attempt, fail_rate)

    def __call__(self, url: str, payload: str) -> bool:
        company = json.loads(payload)["c_custkey"]
        key = f"{self.seed}:{company}:{self.attempt}".encode()
        return int(hashlib.md5(key).hexdigest()[:8], 16) >= self.cutoff
