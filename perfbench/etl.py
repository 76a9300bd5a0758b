"""The per-item ETL of the handler workload.

It has the shape of the reference's cluster script: read an image stack,
select one channel's middle z-plane, write it compressed. Here the stack
is synthetic and seeded, and the "write" is a zlib compression whose
CRC-32 stands in for the saved file, so the result can be checked
against a serial run.
"""

from __future__ import annotations

import zlib

import numpy as np

STACK_SHAPE = (7, 48, 48)  # z, y, x


def etl_item(item_id: int, seed: int) -> tuple[int, int]:
    """Build a uint16 stack, select its middle z-plane, compress it and
    return ``(item_id, crc32 of the compressed plane)``."""
    rng = np.random.default_rng(seed)
    z, y, x = STACK_SHAPE
    ramp = np.add.outer(np.arange(y), np.arange(x)).astype(np.uint16) * 16
    stack = ramp + rng.integers(0, 64, size=STACK_SHAPE, dtype=np.uint16)
    plane = np.ascontiguousarray(stack[z // 2])
    return item_id, zlib.crc32(zlib.compress(plane.tobytes(), 6))
