"""The benchmark's workloads. Each runs one iteration through a program
entry point, and reports digests of the files it wrote so every
iteration's output can be checked.

Why these two (both are needed to reach every named layer):

- ``e2e_x1``: ``pipeline_e2e.e2e_rows`` over the s1h real-format
  observation (24 gpubox files, 835,584 cube rows) with the physical
  UVFITS write. The only workload where gpubox decode, SSINS RFI, the
  fan-out materialization and a 10 MB executor-parallel UVFITS write do
  the work. Its input is the program's closed-form gpubox fixture, so it
  is the same for every seed and its digest is checked on every run.
- ``cli_sinks``: ``cli.run`` with default RFI (the mwa float island),
  cable, digital gains and geometry, writing UVFITS, a casacore MS and
  an mwaf set at once from a 60,000-row seeded input. The only workload
  for CLI orchestration, the synthetic source, the MS and mwaf writers
  and the RFI island; its outputs are tiny, so sink fixed costs and the
  CLI's per-sink pipeline rebuilds dominate.
"""

from __future__ import annotations

import hashlib
import os
import shutil

import numpy as np

#: f32 complex visibilities, four polarizations: bytes of payload per row
PAYLOAD_BYTES_PER_ROW = 4 * 8


def sha256_file(path: str) -> str:
    h = hashlib.sha256()
    with open(path, "rb") as f:
        for block in iter(lambda: f.read(1 << 20), b""):
            h.update(block)
    return h.hexdigest()


def sha256_tree(root: str) -> str:
    """Digest of every file under ``root``: relative path and content."""
    h = hashlib.sha256()
    for dirpath, dirnames, files in os.walk(root):
        dirnames.sort()
        for name in sorted(files):
            path = os.path.join(dirpath, name)
            h.update(os.path.relpath(path, root).encode() + b"\0")
            h.update(sha256_file(path).encode())
    return h.hexdigest()


def uvfits_gcount(path: str) -> int:
    """GCOUNT card of a random-groups FITS primary header."""
    with open(path, "rb") as f:
        while True:
            block = f.read(2880)
            if len(block) < 2880:
                raise ValueError(f"{path}: header has no GCOUNT")
            for i in range(0, 2880, 80):
                card = block[i:i + 80].decode("ascii")
                if card.startswith("GCOUNT  ="):
                    return int(card[10:30])
                if card.startswith("END     "):
                    raise ValueError(f"{path}: header has no GCOUNT")


def tree_bytes(root: str) -> int:
    if os.path.isfile(root):
        return os.path.getsize(root)
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(root) for f in fs)


class E2E:
    name = "e2e_x1"

    def __init__(self, work: str, seed: int, smoke: bool) -> None:
        from birli_spark import pipeline_e2e as pe
        self.pe = pe
        self.out = os.path.join(work, "e2e.uvfits")
        n_bl = pe.NUM_ANTS * (pe.NUM_ANTS + 1) // 2
        self.rows = pe.NUM_CC * n_bl * pe.NUM_FINE * pe.NUM_T

    def prepare(self) -> None:
        self.pe.scan_dir(self.pe.NUM_T)

    def clean(self) -> None:
        if os.path.exists(self.out):
            os.remove(self.out)

    def run(self, spark) -> None:
        self.pe.e2e_rows(spark, write_path=self.out, num_t=self.pe.NUM_T)

    def digests(self) -> dict:
        return {"uvfits_sha256": sha256_file(self.out),
                "uvfits_gcount": uvfits_gcount(self.out)}

    def sink_paths(self) -> dict[str, str]:
        return {"sinks.uvfits.write": self.out}


def write_lineitem(path: str, seed: int, rows: int) -> None:
    """The cli_sinks input, and all the program sees of the seed: the
    four lineitem key columns the synthetic visibility source
    derives its cube from (``birli_spark.sources.synthetic``), drawn with
    TPC-H-like key ranges (orders ~rows/4, parts ~rows/30, suppliers
    ~rows/600) so the cube keeps its duplicate cells and flag density."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    table = pa.table({
        "l_orderkey": rng.integers(0, max(rows // 4, 1), rows),
        "l_partkey": rng.integers(0, max(rows // 30, 1), rows),
        "l_suppkey": rng.integers(0, max(rows // 600, 1), rows),
        "l_linenumber": rng.integers(1, 8, rows).astype(np.int32),
    })
    os.makedirs(path, exist_ok=True)
    pq.write_table(table, os.path.join(path, "lineitem.parquet"))


class CliSinks:
    name = "cli_sinks"

    def __init__(self, work: str, seed: int, smoke: bool) -> None:
        self.seed = seed
        self.rows = 6_000 if smoke else 60_000
        self.sf = os.path.join(work, "sf")
        self.uv = os.path.join(work, "cli.uvfits")
        self.ms = os.path.join(work, "cli.ms")
        self.mwaf = os.path.join(work, "mwaf")

    def prepare(self) -> None:
        write_lineitem(self.sf, self.seed, self.rows)

    def clean(self) -> None:
        if os.path.exists(self.uv):
            os.remove(self.uv)
        for d in (self.ms, self.mwaf):
            shutil.rmtree(d, ignore_errors=True)

    def run(self, spark) -> None:
        from birli_spark import cli
        cli.run([self.sf, "--avg-time-factor", "2", "--avg-freq-factor",
                 "2", "-u", self.uv, "-M", self.ms, "-f", self.mwaf,
                 "--no-draw-progress"], spark)

    def digests(self) -> dict:
        return {"uvfits_sha256": sha256_file(self.uv),
                "uvfits_gcount": uvfits_gcount(self.uv),
                "ms_sha256": sha256_tree(self.ms),
                "mwaf_sha256": sha256_tree(self.mwaf)}

    def sink_paths(self) -> dict[str, str]:
        return {"sinks.uvfits.write": self.uv, "sinks.ms_file": self.ms,
                "sinks.mwaf": self.mwaf}


WORKLOADS = {w.name: w for w in (E2E, CliSinks)}
