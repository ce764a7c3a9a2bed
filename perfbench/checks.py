"""Correctness bookkeeping: every operation the benchmark runs is checked,
and each failed or wrong one is counted.

Query results are reduced to the order-insensitive, bit-exact canonical row
set of ``tests/oracle_utils.py`` (the repository's DuckDB differential
check), so a result compared here matches or differs exactly as it would
in the oracle tests.
"""

from __future__ import annotations

import hashlib
import importlib.util
import os
import sys


def load_oracle_utils(root: str):
    """Import ``tests/oracle_utils.py`` of the checkout at ``root``."""
    path = os.path.join(root, "tests", "oracle_utils.py")
    spec = importlib.util.spec_from_file_location("perfbench_oracle_utils", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


class Checker:
    """Counts attempted and failed operations and keeps reference digests.

    ``canon`` maps (columns, rows) to the canonical sorted row strings."""

    def __init__(self, canon):
        self._canon = canon
        self.attempted = 0
        self.failed = 0
        self.reference: dict[str, str] = {}

    def digest(self, cols, rows) -> str:
        h = hashlib.sha256()
        h.update("\x1f".join(sorted(cols)).encode())
        for line in self._canon(list(cols), rows):
            h.update(b"\n" + line.encode())
        return h.hexdigest()

    def check(self, ok: bool, what: str) -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"[perfbench] FAILED: {what}", file=sys.stderr)
        return ok

    def against_oracle(self, name: str, cols, rows, con, sql: str) -> bool:
        """Diff a Spark result against DuckDB running the query's oracle SQL,
        and keep its digest as the reference for later runs of ``name``."""
        res = con.execute(sql)
        d_cols = [d[0] for d in res.description]
        same = sorted(cols) == sorted(d_cols) and self._canon(list(cols), rows) == self._canon(
            d_cols, res.fetchall()
        )
        self.reference[name] = self.digest(cols, rows)
        return self.check(same, f"{name}: result differs from the DuckDB oracle")

    def against_reference(self, name: str, cols, rows) -> bool:
        same = self.reference.get(name) == self.digest(cols, rows)
        return self.check(same, f"{name}: result differs from the oracle-checked warm-up result")

    @property
    def failed_frac(self) -> float:
        return self.failed / self.attempted if self.attempted else 0.0
