"""Helpers the benchmark's verdicts rest on: the order-insensitive table
hash (mirrored by the harness in Spark SQL), percentiles with the
samples-beyond rule, and failed-op accounting."""
import datetime
import hashlib
import math

NULL = "\\N"
SEP = "\x1f"


def canon(kind, v):
    """One cell as the string both sides hash. `kind` names how the
    generator's value maps onto the table column; the harness renders the
    table side with the same kinds in Spark SQL (`Ctx.canonRow`)."""
    if v is None:
        return NULL
    if kind in ("int", "ts_us", "date_days"):
        return str(int(v))
    if kind == "str":
        return v
    if kind == "cents":
        return str(int(round(v * 100)))
    if kind == "ts_ms":
        return str(int(v) * 1000)
    if kind == "ts_iso":
        t = datetime.datetime.strptime(v, "%Y-%m-%dT%H:%M:%SZ").replace(tzinfo=datetime.timezone.utc)
        return str(int(t.timestamp()) * 1_000_000)
    raise ValueError(f"unknown kind {kind}")


def row_hash(cells):
    """Unsigned 64-bit hash of one canonical row: the first 16 hex digits
    of md5 over the SEP-joined cells (Spark: conv(substr(md5(..),1,16),16,10))."""
    return int(hashlib.md5(SEP.join(cells).encode()).hexdigest()[:16], 16)


def table_hash(rows):
    """Order-insensitive, duplicate-sensitive digest of canonical rows:
    (row count, exact sum of row hashes)."""
    n = s = 0
    for cells in rows:
        n += 1
        s += row_hash(cells)
    return [n, s]


def percentile(samples, p, beyond=10):
    """Nearest-rank p-th percentile, or None unless at least `beyond`
    samples lie above it: a tail figure from fewer samples is noise."""
    if not samples or not 0 < p < 100:
        return None
    xs = sorted(samples)
    rank = max(1, math.ceil(p / 100 * len(xs)))
    if len(xs) - rank < beyond:
        return None
    return xs[rank - 1]


def median(samples):
    xs = sorted(samples)
    n = len(xs)
    if n == 0:
        return None
    return xs[n // 2] if n % 2 else (xs[n // 2 - 1] + xs[n // 2]) / 2


class Ledger:
    """Attempted and failed operations. An op fails when it raised or when
    its output disagreed with the model; each op counts once."""

    def __init__(self):
        self.attempted = 0
        self.failed = set()
        self.reasons = []

    def attempt(self, n=1):
        self.attempted += n

    def fail(self, op_id, reason):
        if op_id not in self.failed:
            self.failed.add(op_id)
            self.reasons.append(f"{op_id}: {reason}")

    @property
    def failed_count(self):
        return len(self.failed)

    @property
    def failed_ratio(self):
        return len(self.failed) / self.attempted if self.attempted else 1.0

    @property
    def correct(self):
        return self.attempted > 0 and not self.failed
