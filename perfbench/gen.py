"""Seeded input generator for the transfer workload.

Everything here is plain Python (no Spark): the same seed gives
byte-identical files, and the generator returns what a correct run must
produce, so the workload can check the engine's outputs against it.
The amount of work (files, lines, corrupt lines) is fixed; the seed
changes ids, types, users and which lines are corrupt.
"""

from __future__ import annotations

import gzip
import os
import random
from dataclasses import dataclass, field

CORRUPT_PER_FILE = 5

HISTORY_FILES = 3000
HISTORY_DIRS = 24
LANDING_FILES = 2
LANDING_LINES = 2000

TYPES = ("view", "click", "cart", "buy", "bot")
DROPPED_TYPE = "bot"  # the workload's Filter drops these records


@dataclass
class FileSpec:
    """One generated source file and the records a correct run keeps."""

    path: str
    lines: int  # every line, corrupt ones included
    kept: int  # valid lines whose Type is not DROPPED_TYPE


@dataclass
class Inputs:
    files: list[FileSpec] = field(default_factory=list)

    @property
    def lines(self) -> int:
        return sum(f.lines for f in self.files)

    @property
    def kept(self) -> int:
        return sum(f.kept for f in self.files)


def _ndjson(rng: random.Random, n_lines: int, n_corrupt: int) -> tuple[bytes, int]:
    """``n_lines`` ndjson event lines, ``n_corrupt`` of them truncated
    mid-object; returns (gzip bytes, kept count)."""
    corrupt = set(rng.sample(range(n_lines), n_corrupt))
    out = []
    kept = 0
    for i in range(n_lines):
        typ = TYPES[rng.randrange(len(TYPES))]
        line = f'{{"Id":{rng.randrange(1 << 40)},"Type":"{typ}","User":{rng.randrange(100000)}}}'
        if i in corrupt:
            line = line[: rng.randrange(2, len(line) - 2)]
        elif typ != DROPPED_TYPE:
            kept += 1
        out.append(line)
    data = ("\n".join(out) + "\n").encode()
    # mtime=0: the gzip header carries no clock, so bytes depend on the seed only
    return gzip.compress(data, compresslevel=6, mtime=0), kept


def _write(path: str, data: bytes) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "wb") as f:
        f.write(data)


def make_history(root: str, seed: int) -> Inputs:
    """HISTORY_FILES small already-transferred files spread over
    HISTORY_DIRS directories (enough top-level prefixes that the engine
    lists them with a distributed job)."""
    inputs = Inputs()
    for i in range(HISTORY_FILES):
        rng = random.Random(f"history:{seed}:{i}")
        data, kept = _ndjson(rng, 20, 1)
        path = os.path.join(root, f"d{i % HISTORY_DIRS:02d}", f"h-{i:05d}.ndjson.gz")
        _write(path, data)
        inputs.files.append(FileSpec(path, 20, kept))
    return inputs


def make_landing(root: str, seed: int, seq: int) -> Inputs:
    """The LANDING_FILES new files of landing poll number ``seq``."""
    inputs = Inputs()
    for j in range(LANDING_FILES):
        rng = random.Random(f"landing:{seed}:{seq}:{j}")
        data, kept = _ndjson(rng, LANDING_LINES, CORRUPT_PER_FILE)
        path = os.path.join(root, "live", f"new-{seq:05d}-{j}.ndjson.gz")
        _write(path, data)
        inputs.files.append(FileSpec(path, LANDING_LINES, kept))
    return inputs
