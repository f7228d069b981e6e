"""Allocator tuning for numpy-heavy Python kernels (glibc mallopt(3)).

Why this module exists — measured on this class of host (microVM with
slow on-demand page population): the FIRST touch of freshly-mmapped
anonymous memory costs ~50-100x more than a warm write. glibc's malloc
serves every allocation above ``M_MMAP_THRESHOLD`` (128 KiB default)
with a private ``mmap`` and gives the pages back to the kernel on
``free`` — so every large numpy temporary (a distance matrix, a stacked
Arrow batch, a decoded frame buffer) repays the full first-touch fault
cost on every single expression. A 25M-element broadcast add measured
**17-32 s** under the default tuning and **0.08 s** once large buffers
recycle through the heap arena.

Three standard, documented knobs fix this:

* ``M_MMAP_THRESHOLD`` raised to 512 MiB — large buffers come from the
  sbrk arena instead of per-allocation mmaps, so freed pages are reused
  (warm) by the next temporary.
* ``M_TRIM_THRESHOLD`` raised to 1 GiB — the arena top is not returned
  to the kernel after transient spikes, keeping those pages warm.
* ``M_TOP_PAD`` 256 MiB — each sbrk grows the arena in large steps,
  amortizing the (slow) fault-in.

Scope — Python processes ONLY, never the JVM. Two approaches were
measured and rejected for the JVM side of the same host:

* ``GLIBC_TUNABLES=glibc.malloc.hugetlb=1`` in the JVM's environment
  made JVM-side queries 3-5x slower (even warm);
* ``-XX:+UseTransparentHugePages`` slowed a cached materialization
  ~1.6x.

Because env vars exported before ``getOrCreate()`` are inherited by
the JVM and everything it forks, this module does NOT export any.
The tuning exists in two places:

* :func:`tune_malloc`, called by the driver (``session.get_spark``)
  and by the warm-fork worker daemon (``pydaemon.py``) before its fork
  loop, so every forked worker inherits it;
* the inline preamble of the one Arrow kernel builder
  (``ml/kernel.numpy_kernel``), for workers that run without the
  daemon and cannot import this package (a plain ``SparkSession``), so
  they cannot call :func:`tune_malloc` by reference.

Everything here is a no-op on non-glibc platforms (the ctypes lookup
is wrapped) and is idempotent. On a multi-tenant cluster these values
are a deliberate trade: each long-lived Python worker retains up to
~1 GiB of warm arena instead of bouncing pages through the kernel —
the right trade for dedicated executors running Arrow kernels.
"""

from __future__ import annotations

import ctypes
import os

# mallopt(3) parameter numbers (bits/malloc.h, stable public ABI).
_M_TRIM_THRESHOLD = -1
_M_TOP_PAD = -2
_M_MMAP_THRESHOLD = -3

MMAP_THRESHOLD = 512 * 1024 * 1024
TRIM_THRESHOLD = 1024 * 1024 * 1024
TOP_PAD = 256 * 1024 * 1024

_tuned = False


def tune_malloc() -> bool:
    """Apply the malloc tuning to the CURRENT process. Idempotent;
    returns True when mallopt was reachable and accepted the values.

    The first call per process does the work, later calls return
    immediately.
    """
    global _tuned
    if _tuned:
        return True
    try:
        libc = ctypes.CDLL(None)
        ok = (
            libc.mallopt(ctypes.c_int(_M_MMAP_THRESHOLD), ctypes.c_int(MMAP_THRESHOLD))
            and libc.mallopt(ctypes.c_int(_M_TRIM_THRESHOLD), ctypes.c_int(TRIM_THRESHOLD))
            and libc.mallopt(ctypes.c_int(_M_TOP_PAD), ctypes.c_int(TOP_PAD))
        )
        _tuned = bool(ok)
    except Exception:
        _tuned = False
    return _tuned

