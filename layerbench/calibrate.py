"""The host-speed yardstick of the serving window.

The VM's speed swings between about 0.55x and 1x of its fast phase, in
phases of seconds to half a minute, with no steal time to show for it
(see README.md, "Noise").  Every request slows with it.  So the window
calls ``slowdown`` about every ``EVERY_S`` seconds between requests,
and the request figures are divided by the slowdown around them: they
read as milliseconds at the speed the host had when the kernels took
their reference times.

The kernels are the benchmark's own code.  ``kernel`` is a fixed mix
of interpreter work (dict updates, integer arithmetic) and numpy
sorting, like the use case's mix of Python and Arrow.  ``interp`` is
the interpreter part alone.  Top-k requests on the benchmark's corpus
are mostly interpreter time, so their yardstick adds it (see
``slowdown``).  No change to the engine can change the kernels' cost.
"""

from __future__ import annotations

import math
import time

import numpy as np

EVERY_S = 0.1
# the kernels' median times on the 4-core VM the benchmark was written on
REF_MS = 6.0
REF_INTERP_MS = 2.8
_KEYS = np.random.default_rng(1).random(50_000)


def kernel() -> int:
    d: dict[int, int] = {}
    s = 0
    for i in range(6_000):
        k = i % 331
        d[k] = d.get(k, 0) + i
        s += (i * 7) >> 2
    for _ in range(4):
        np.argsort(_KEYS)
    return s


def interp() -> int:
    d: dict[int, int] = {}
    s = 0
    for i in range(12_000):
        k = i % 331
        d[k] = d.get(k, 0) + i
        s += (i * 7) >> 2
    return s


def slowdown(interp_heavy: bool) -> float:
    """Run the yardstick once; return its time over its reference time
    (1.25: the host runs 25% slower than the reference).  With
    ``interp_heavy`` it is the geometric mean of ``kernel``'s and
    ``interp``'s ratios, which followed the top-k requests' speed
    better than either alone (README.md, "Noise")."""
    clock = time.perf_counter
    t = clock()
    kernel()
    f = (clock() - t) * 1e3 / REF_MS
    if interp_heavy:
        t = clock()
        interp()
        f = math.sqrt(f * (clock() - t) * 1e3 / REF_INTERP_MS)
    return f
