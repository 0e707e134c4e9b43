"""Machine-state probes that make a benchmark artifact self-diagnosing.

Two bench sessions in a row once ran 15-40% hot across queries whose
code had not changed (SCALE.md "NumPy THP hugepage stall"). The causes
were the host's: THP ``madvise`` + ``defrag=madvise`` on a fragmented
host stalls every hugepage first touch in synchronous compaction
(~8 MB/s observed), and co-tenant load adds jitter to sub-second
queries. The bench JSON alone shows neither, so these probes ride in it:

- :func:`thp_state` — the kernel's THP ``enabled``/``defrag`` modes.
- :func:`load_1m` — 1-minute load average at bench time.
- :func:`thp_canary` — mmap an anonymous buffer, ``madvise(MADV_HUGEPAGE)``
  it (what numpy >=1.22 does to large allocations) and measure the
  first-touch fill rate: GB/s on a healthy host, single-digit MB/s on a
  fragmented one. A time budget bounds the probe on a poisoned host.
  It runs in a short-lived child, so its buffer stays out of the
  caller's peak memory (in the caller, 100 MB took a fresh
  interpreter's ``VmHWM`` from 14 to 116 MB).
- :func:`sibling_processes` — other live bench/soak processes (two hot
  sessions came from overlapping benchmark jobs).
- :func:`machine_state` — all of the above in one dict.

Every probe degrades to ``None``/empty on non-Linux or permission
errors: a probe must never fail a bench run.
"""

from __future__ import annotations

import ctypes
import mmap
import os
import subprocess
import sys
import time

_THP_DIR = "/sys/kernel/mm/transparent_hugepage"
_MADV_HUGEPAGE = 14  # linux/mman.h


def _read_thp_file(name: str) -> str | None:
    """Return the bracketed (active) value of a THP sysfs file."""
    try:
        with open(os.path.join(_THP_DIR, name)) as fh:
            raw = fh.read().strip()
    except OSError:
        return None
    for tok in raw.split():
        if tok.startswith("[") and tok.endswith("]"):
            return tok[1:-1]
    return raw or None


def thp_state() -> dict:
    return {
        "enabled": _read_thp_file("enabled"),
        "defrag": _read_thp_file("defrag"),
    }


def load_1m() -> float | None:
    try:
        return round(os.getloadavg()[0], 2)
    except OSError:
        return None


def thp_canary(mb: int = 100, budget_s: float = 2.0) -> float | None:
    """First-touch fill rate (MB/s) of a fresh MADV_HUGEPAGE buffer,
    measured in a child process (``None`` when the probe fails).

    Reproduces the exact allocation pattern that stalls on a fragmented
    THP-madvise box (what numpy does to every large array): anonymous
    mmap, ``madvise(MADV_HUGEPAGE)``, then write one byte per 4 KiB page.
    Touching stops after ``budget_s`` seconds so a poisoned box costs at
    most the budget — the partial rate is still the diagnosis (single-
    digit MB/s == poisoned; hundreds+ == healthy).
    """
    try:
        # stdlib only: -I -S skips the site and the caller's environment
        out = subprocess.run(
            [sys.executable, "-I", "-S", os.path.abspath(__file__), str(mb), str(budget_s)],
            capture_output=True, text=True, timeout=budget_s + 30,
        ).stdout
        return float(out)
    except (OSError, ValueError, subprocess.SubprocessError):
        return None  # a failed probe prints "None" or nothing


def _touch_rate(mb: int, budget_s: float) -> float | None:
    """The canary's probe, run in the child :func:`thp_canary` starts."""
    n = mb * 1024 * 1024
    try:
        buf = mmap.mmap(-1, n)
    except (OSError, ValueError):
        return None
    try:
        try:
            libc = ctypes.CDLL(None, use_errno=True)
            view = ctypes.c_char.from_buffer(buf)
            addr = ctypes.addressof(view)
            libc.madvise(
                ctypes.c_void_p(addr), ctypes.c_size_t(n),
                ctypes.c_int(_MADV_HUGEPAGE),
            )
            del view  # release the exported pointer so buf can close
        except Exception:
            pass  # canary still measures plain first-touch
        page = 4096
        chunk = 4 * 1024 * 1024
        t0 = time.monotonic()
        touched = 0
        for off in range(0, n, chunk):
            end = min(off + chunk, n)
            for p in range(off, end, page):
                buf[p] = 1
            touched = end
            if time.monotonic() - t0 > budget_s:
                break
        dt = max(time.monotonic() - t0, 1e-9)
        return round(touched / (1024 * 1024) / dt, 1)
    finally:
        buf.close()


def sibling_processes(patterns: tuple[str, ...] = (
    "bench.py", "bench_regress.py", "soak_", "bench_curation.py",
    "bench_docs_ops.py", "check_oracle.py", "plan_audit.py",
)) -> list[str]:
    """Other live processes whose cmdline matches a bench/soak pattern.

    Excludes this process and its ancestors (so a bench launched BY
    bench_regress.py does not see its parent as a sibling, and the
    checker never matches its own cmdline — the r9 ``pgrep -f``
    self-match trap).
    """
    skip = set()
    pid = os.getpid()
    while pid > 1:
        skip.add(pid)
        try:
            with open(f"/proc/{pid}/stat") as fh:
                pid = int(fh.read().split(")")[-1].split()[1])
        except (OSError, ValueError, IndexError):
            break
    out = []
    try:
        entries = os.listdir("/proc")
    except OSError:
        return out
    for entry in entries:
        if not entry.isdigit() or int(entry) in skip:
            continue
        try:
            with open(f"/proc/{entry}/cmdline", "rb") as fh:
                cmd = fh.read().replace(b"\0", b" ").decode(
                    "utf-8", "replace").strip()
        except OSError:
            continue
        if any(pat in cmd for pat in patterns):
            out.append(f"{entry}: {cmd[:200]}")
    return out


def machine_state(canary_mb: int = 100) -> dict:
    """Snapshot for embedding in bench output (judge r9 task #1a)."""
    state = thp_state()
    state["load_1m"] = load_1m()
    state["canary_mb_s"] = thp_canary(mb=canary_mb)
    return state


if __name__ == "__main__":  # the child process of thp_canary
    print(_touch_rate(int(sys.argv[1]), float(sys.argv[2])))
