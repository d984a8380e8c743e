"""Seeded input generator of the graft benchmark's octree workload.

Everything here is a pure function of (seed, size): the same seed gives
byte-identical files. The expected answers the benchmark checks against
(voxel counts, pyramid checksums, tree file counts) are computed here with
numpy, independently of the engine.
"""
import json
import os
import struct
import zlib

import numpy as np

LEAF = 4  # leaf block edge fixed by the engine's tree writer
CHANNELS = 2


def levels_for(n):
    """Octree level count for an n³ volume with 4³ leaf blocks: log2(n/4)+1."""
    if n < LEAF or n & (n - 1):
        raise ValueError(f"volume edge {n} must be a power of two >= {LEAF}")
    return (n // LEAF).bit_length()


# ---------------------------------------------------------------- TIFF

def tiff_slice(page):
    """One 16-bit, single-strip, Adobe-deflate TIFF page (little endian)."""
    h, w = page.shape
    strip = zlib.compress(page.astype("<u2").tobytes(), 6)
    pad = len(strip) & 1
    ifd_off = 8 + len(strip) + pad
    tags = [  # (tag, type, value) — SHORT=3, LONG=4, ascending
        (256, 4, w), (257, 4, h), (258, 3, 16), (259, 3, 8), (262, 3, 1),
        (273, 4, 8), (277, 3, 1), (278, 4, h), (279, 4, len(strip)),
        (339, 3, 1)]
    out = [b"II", struct.pack("<HI", 42, ifd_off), strip, b"\0" * pad,
           struct.pack("<H", len(tags))]
    for tag, typ, val in tags:
        out.append(struct.pack("<HHII", tag, typ, 1, val))
    out.append(struct.pack("<I", 0))
    return b"".join(out)


def write_slices(vol, root):
    """vol: (c, z, y, x) uint16 → root/slices_tif/ch{c}/z%04d.tif."""
    for c in range(vol.shape[0]):
        d = os.path.join(root, "slices_tif", f"ch{c}")
        os.makedirs(d, exist_ok=True)
        for z in range(vol.shape[1]):
            with open(os.path.join(d, "z%04d.tif" % z), "wb") as f:
                f.write(tiff_slice(vol[c, z]))


# -------------------------------------------------------------- volume

def _ball(r):
    g = np.arange(-r, r + 1)
    zz, yy, xx = np.meshgrid(g, g, g, indexing="ij")
    m = zz * zz + yy * yy + xx * xx <= r * r
    return np.stack([zz[m], yy[m], xx[m]], axis=1)


def _tube(rng, lo, hi, length):
    """A smooth random walk inside the box [lo, hi), as integer centre
    points; the path folds back at the box walls."""
    d = rng.normal(size=3) + np.cumsum(rng.normal(scale=0.25, size=(length, 3)), axis=0)
    d /= np.linalg.norm(d, axis=1, keepdims=True)
    p = rng.uniform(lo, hi) + np.cumsum(0.7 * d, axis=0)
    span = (hi - 1 - lo).astype(float)
    p = lo + span - np.abs(np.mod(p - lo, 2 * span) - span)
    return np.rint(p).astype(np.int64)


def _paint(rng, vol, c, lo, hi, target, free=None):
    """Draw tubes inside the box [lo, hi) into channel c of vol until
    `target` voxels are set.

    Voxels already set are never overwritten; with `free`, only voxels
    where `free` is true are painted (the delta stays disjoint).
    """
    lo, hi = np.asarray(lo), np.asarray(hi)
    filled = 0
    for _ in range(10000):  # a region too full to take `target` stops here
        if filled >= target:
            break
        r = int(rng.integers(3, 7))
        pts = _tube(rng, lo, hi, int(rng.integers(40, 160)))
        cells = (pts[:, None, :] + _ball(r)[None, :, :]).reshape(-1, 3)
        cells = cells[np.all((cells >= lo) & (cells < hi), axis=1)]
        n = vol.shape[1]
        flat = np.unique((cells[:, 0] * n + cells[:, 1]) * n + cells[:, 2])
        z, y, x = flat // (n * n), flat // n % n, flat % n
        keep = vol[c, z, y, x] == 0
        if free is not None:
            keep &= free[c, z, y, x]
        z, y, x = z[keep], y[keep], x[keep]
        base = int(rng.integers(2000, 40000))
        vals = base + rng.integers(-1500, 1500, size=z.size)
        vol[c, z, y, x] = np.clip(vals, 1, 65535).astype(np.uint16)
        filled += z.size


def make_volume(seed, n, occupancy=0.14):
    """Base volume (c, z, y, x) with ~`occupancy` of voxels inside tubes."""
    rng = np.random.default_rng([seed, n, 1])
    vol = np.zeros((CHANNELS, n, n, n), dtype=np.uint16)
    for c in range(CHANNELS):
        _paint(rng, vol, c, [0] * 3, [n] * 3, int(occupancy * n ** 3))
    return vol


def make_delta(seed, base, share=0.01):
    """Late-arriving voxels, disjoint from `base`, inside one 1/64 region.

    About `share` of the base's nonzero count, all inside one of the 64
    sub-cubes of edge n/4, painted only where the base is zero.
    """
    n = base.shape[1]
    rng = np.random.default_rng([seed, n, 2])
    q = n // 4
    target = int(share * np.count_nonzero(base)) // CHANNELS
    # one of the sub-cubes with room for the delta in every channel
    empty = (base == 0).reshape(CHANNELS, 4, q, 4, q, 4, q).sum(axis=(2, 4, 6)).min(axis=0)
    roomy = np.argwhere(empty >= 4 * target)
    if len(roomy) == 0:
        roomy = np.argwhere(empty == empty.max())
    lo = roomy[int(rng.integers(0, len(roomy)))] * q
    oz, oy, ox = (int(v) for v in lo)
    region = np.zeros_like(base, dtype=bool)
    region[:, oz:oz + q, oy:oy + q, ox:ox + q] = True
    free = region & (base == 0)
    delta = np.zeros_like(base)
    for c in range(CHANNELS):
        sub = np.zeros_like(base)
        _paint(rng, sub, c, lo, lo + q, target, free=free)
        delta[c] = sub[c]
    assert not np.any((delta > 0) & (base > 0)), "delta overlaps base"
    assert not np.any((delta > 0) & ~region), "delta leaves its region"
    return delta


# ------------------------------------------------------------- pyramid

def arthur_down(v):
    """One 2× arthur step on (c, z, y, x): per 2×2×2 cube the second
    largest value (duplicates counted) when ≥2 voxels are set, else the
    max."""
    c, n = v.shape[0], v.shape[1]
    cubes = v.reshape(c, n // 2, 2, n // 2, 2, n // 2, 2)
    cubes = cubes.transpose(0, 1, 3, 5, 2, 4, 6).reshape(c, n // 2, n // 2, n // 2, 8)
    s = np.sort(cubes, axis=-1)
    nnz = np.count_nonzero(cubes, axis=-1)
    return np.where(nnz >= 2, s[..., -2], s[..., -1])


def pyramid(vol, levels):
    """[(level, array)] from the leaf level (= levels) down to 1."""
    out = [(levels, vol)]
    cur = vol
    for lv in range(levels - 1, 0, -1):
        cur = arthur_down(cur)
        out.append((lv, cur))
    return out


def checksum(levels_arrays, n):
    """Order-free checksum of a sparse (level, c, z, y, x, v) frame.

    The benchmark computes the same four sums in Spark:
    count, Σv, Σv², Σ w·v with w = ((((level·2 + c)·n + z)·n + y)·n + x).
    They fit in 64 bits for n ≤ 128.
    """
    cnt = sv = svv = swv = 0
    for lv, a in levels_arrays:
        c, z, y, x = np.nonzero(a)
        v = a[c, z, y, x].astype(np.int64)
        w = (((lv * CHANNELS + c) * n + z) * n + y) * n + x
        cnt += int(v.size)
        sv += int(v.sum())
        svv += int((v * v).sum())
        swv += int((w.astype(np.int64) * v).sum())
    return [cnt, sv, svv, swv]


def tree_files(levels_arrays):
    """Files writeTree makes: per occupied 4³ block one KTX plus one TIFF
    per nonempty channel."""
    total = 0
    for _, a in levels_arrays:
        c, m = a.shape[0], a.shape[1] // LEAF
        occ = (a.reshape(c, m, LEAF, m, LEAF, m, LEAF) > 0).any(axis=(2, 4, 6))
        total += int(occ.any(axis=0).sum()) + int(occ.sum())
    return total


def volume_inputs(seed, n, root):
    """Write base/ and delta/ slice dirs under root; return the expected
    answers as a dict (also saved to root/expected.json)."""
    levels = levels_for(n)
    base = make_volume(seed, n)
    delta = make_delta(seed, base)
    write_slices(base, os.path.join(root, "base"))
    write_slices(delta, os.path.join(root, "delta"))
    base_pyr = pyramid(base, levels)
    exp = {
        "n": n, "levels": levels,
        "base_voxels": checksum([(levels, base)], n),
        "delta_voxels": checksum([(levels, delta)], n),
        "base_pyramid": checksum(base_pyr, n),
        "union_pyramid": checksum(pyramid(base | delta, levels), n),
        "base_files": tree_files(base_pyr),
    }
    with open(os.path.join(root, "expected.json"), "w") as f:
        json.dump(exp, f)
    return exp
