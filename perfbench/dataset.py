"""The benchmark's input tables.

``data/sf0.01`` (timed runs) and ``data/sf0.001`` (smoke test) hold the
four tables the workloads read (events, documents, embeddings, customer),
copied unchanged from the engine's deterministic seed-42 test tables (see
TESTDATA.md) at those scale factors. Each directory lists its files'
sha256 in ``SHA256SUMS``; ``verify`` checks them before every run and
returns one checksum for the whole dataset, which keys the oracle digests
and goes into every record.
"""

from __future__ import annotations

import hashlib
import os

HERE = os.path.dirname(os.path.abspath(__file__))
TABLES = ("events", "documents", "embeddings", "customer")
SCALES = {"bench": "sf0.01", "smoke": "sf0.001"}


def path(scale: str) -> str:
    return os.path.join(HERE, "data", SCALES[scale])


def verify(data_dir: str) -> str:
    """Check every table against ``SHA256SUMS`` and return the sha256 of
    that list; raises ValueError on a missing or altered table."""
    with open(os.path.join(data_dir, "SHA256SUMS"), "rb") as f:
        listing = f.read()
    want = dict(reversed(line.split()) for line in listing.decode().splitlines())
    if sorted(want) != sorted(f"{t}.parquet" for t in TABLES):
        raise ValueError(f"{data_dir}: SHA256SUMS lists {sorted(want)}")
    for name, digest in want.items():
        with open(os.path.join(data_dir, name), "rb") as f:
            if hashlib.sha256(f.read()).hexdigest() != digest:
                raise ValueError(f"{data_dir}/{name}: checksum mismatch")
    return hashlib.sha256(listing).hexdigest()
