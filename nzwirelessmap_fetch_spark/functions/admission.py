"""Host-derived admission budget for the EXACT pair measures
(r9 verdict directive #6).

The exact-measure guards (Jaccard/containment prefix joins, winnowing
fingerprint pairs, brute-force top-k) pre-flight their pair fan-out and
refuse over budget, naming the oracle-checked scale twin. Through
round 9 the refusal point was a host-tuned constant (2e9 prefix rows /
5e8 for the denser measures) — right for the 32-core/128 GiB dev box,
arbitrary anywhere else. This module derives the default from what
actually kills an over-admitted exact measure on a given machine: the
shuffle spill filling local disk (the r7 winnowing run died exactly
that way — ~80 GB of pair spill), with available memory as a secondary
term so a RAM-starved host with a huge disk still refuses before it
thrashes.

Model (all knobs module constants, env ``SPARK_GRAFT_EXACT_PAIR_BUDGET``
remains the absolute override used identically by every guard site):

    budget_pairs = min(disk_free · DISK_FRACTION,
                       mem_available · MEM_SPILL_MULTIPLE)
                   / BYTES_PER_PAIR_SPILL

- ``BYTES_PER_PAIR_SPILL`` = 24: a candidate pair in the pre-verify
  shuffle is two bigint ids + sort/framing overhead, ≈24 B on disk
  after lz4 (measured from the r7 spill: ~80 GB for ~3.3e9 rows ≈
  24 B/row).
- ``DISK_FRACTION`` = 0.5: one exact measure may plan to fill at most
  half the free spill disk — the other half stays for the rest of the
  job (inputs, other shuffles, the OS).
- ``MEM_SPILL_MULTIPLE`` = 16: spilling lets a shuffle exceed memory,
  but past ~16× available RAM the sort becomes a multi-pass merge that
  is slower than the capped twin by construction.

On the dev box (≈84 GB free disk, ≈128 GiB available RAM) this derives
≈1.7e9 — the same regime as the old 2e9 constant, and the measured
fan-outs (SCALING.md r9: max PASSING 348.9 M at sf1-uniform; winnowing
REFUSES at 1.93 G) keep identical verdicts. On a laptop with 8 GB free
disk it derives ≈1.7e8 — refusing an order of magnitude earlier, which
is exactly the point.

Family scale: the denser measures (winnowing's verify shuffle carries
position payloads; top-k carries the full embedding dot-product) use
``scale=0.25`` — the ratio the old constants encoded (5e8/2e9).
"""

from __future__ import annotations

import os
import shutil
import tempfile
from functools import lru_cache

BYTES_PER_PAIR_SPILL = 24
DISK_FRACTION = 0.5
MEM_SPILL_MULTIPLE = 16
MIN_BUDGET = 10_000_000  # never refuse the sf0.01 gate's ~1e5 fan-outs
MAX_BUDGET = 100_000_000_000  # a 10¹¹-row shuffle is wrong on any host


def disk_free_bytes() -> int:
    """Free bytes where Spark spills (spark.local.dir defaults to the
    system temp dir in local mode)."""
    spill_dir = os.environ.get("SPARK_LOCAL_DIRS") or tempfile.gettempdir()
    return shutil.disk_usage(spill_dir.split(",")[0]).free


def _meminfo_bytes(field: str) -> int | None:
    """One ``/proc/meminfo`` field in bytes; None where the file or the
    field is missing (macOS)."""
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith(f"{field}:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return None


def _phys_mem_bytes() -> int:
    return os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")


def mem_available_bytes() -> int:
    """MemAvailable from /proc/meminfo; falls back to total RAM / 2
    on hosts without it (macOS)."""
    avail = _meminfo_bytes("MemAvailable")
    return avail if avail is not None else _phys_mem_bytes() // 2


def mem_total_bytes() -> int:
    """MemTotal from /proc/meminfo; falls back to the physical page
    count on hosts without it."""
    total = _meminfo_bytes("MemTotal")
    return total if total is not None else _phys_mem_bytes()


@lru_cache(maxsize=1)
def _derived_budget() -> int:
    # single implementation: the probed path IS the pure function the
    # tests certify, so the two can never drift apart
    return derive_budget_for(disk_free_bytes(), mem_available_bytes())


def exact_pair_budget(scale: float = 1.0) -> int:
    """The pair-row budget an exact-measure guard compares its measured
    fan-out against. ``SPARK_GRAFT_EXACT_PAIR_BUDGET`` overrides
    absolutely (every guard site reads it verbatim, as before);
    otherwise the host-derived default, scaled by the family's density
    factor."""
    env = os.environ.get("SPARK_GRAFT_EXACT_PAIR_BUDGET")
    if env is not None:
        return int(float(env))
    return max(MIN_BUDGET, int(_derived_budget() * scale))


def budget_report() -> dict:
    """Snapshot of the admission budget AND the host inputs it derived
    from (r10 ADVICE: the budget depends on free disk at probe time, so
    gate artifacts must record what passing rows were admitted under —
    refusals name it in their error text, passes recorded nothing,
    making cross-run verdict flips unexplainable). Gate tools write
    this into the artifact header once per run."""
    env = os.environ.get("SPARK_GRAFT_EXACT_PAIR_BUDGET")
    return {
        "pair_budget": exact_pair_budget(),
        "env_override": env,
        "disk_free_bytes": disk_free_bytes(),
        "mem_available_bytes": mem_available_bytes(),
        "formula": (
            f"min(disk*{DISK_FRACTION}, mem*{MEM_SPILL_MULTIPLE})"
            f"/{BYTES_PER_PAIR_SPILL}B, clamp [{MIN_BUDGET}, {MAX_BUDGET}]"
        ),
    }


def derive_budget_for(
    disk_free: int, mem_available: int, scale: float = 1.0
) -> int:
    """Pure-function twin of the probe path for tests: what would the
    budget be on a host with these resources?"""
    cap_bytes = min(
        disk_free * DISK_FRACTION, mem_available * MEM_SPILL_MULTIPLE
    )
    derived = max(
        MIN_BUDGET, min(MAX_BUDGET, int(cap_bytes / BYTES_PER_PAIR_SPILL))
    )
    return max(MIN_BUDGET, int(derived * scale))
