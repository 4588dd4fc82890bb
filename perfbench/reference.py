"""Correctness references that share no code with the package under test.

Each reference is written from the input's definition (the generator's
documented formula, the WKB byte layout, the even-odd rule), so a defect in
the package cannot cancel out in the comparison.
"""

from __future__ import annotations

import hashlib
import math
import random
import struct

import numpy as np

STAR_VERTICES = 48  # vertices of the grid_overlay mask
MASS_REL_TOL = 1e-9  # relative tolerance of the mass-conservation check

# --- WKB (OGC simple features, 2D Polygon / MultiPolygon) ------------------------


def wkb_polygons(buf: bytes) -> list[list[np.ndarray]]:
    """WKB Polygon or MultiPolygon -> list of polygons, each a list of
    (n, 2) rings (shell first)."""

    def polygon(off: int):
        order = "<" if buf[off] == 1 else ">"
        gtype, nrings = struct.unpack_from(order + "II", buf, off + 1)
        if gtype != 3:
            raise ValueError(f"expected a WKB polygon, got type {gtype}")
        off += 9
        rings = []
        for _ in range(nrings):
            (n,) = struct.unpack_from(order + "I", buf, off)
            off += 4
            rings.append(np.frombuffer(buf, dtype=order + "f8", count=2 * n, offset=off).reshape(n, 2))
            off += 16 * n
        return rings, off

    order = "<" if buf[0] == 1 else ">"
    (gtype,) = struct.unpack_from(order + "I", buf, 1)
    if gtype == 3:
        return [polygon(0)[0]]
    if gtype != 6:
        raise ValueError(f"unsupported WKB geometry type {gtype}")
    (nparts,) = struct.unpack_from(order + "I", buf, 5)
    off, parts = 9, []
    for _ in range(nparts):
        rings, off = polygon(off)
        parts.append(rings)
    return parts


def wkb_polygon(shell) -> bytes:
    """One-ring WKB Polygon (little-endian), closed if needed."""
    pts = list(shell)
    if pts[0] != pts[-1]:
        pts.append(pts[0])
    return struct.pack("<BII", 1, 3, 1) + struct.pack("<I", len(pts)) + b"".join(
        struct.pack("<dd", x, y) for x, y in pts
    )


def inside_even_odd(px: np.ndarray, py: np.ndarray, parts) -> np.ndarray:
    """Brute-force even-odd point-in-multipolygon: a point is inside a part
    when a ray crosses that part's rings (shell and holes) an odd number
    of times; inside the multipolygon when inside any part."""
    hit = np.zeros(len(px), dtype=bool)
    for rings in parts:
        odd = np.zeros(len(px), dtype=bool)
        for ring in rings:
            x0, y0 = ring[:-1, 0], ring[:-1, 1]
            x1, y1 = ring[1:, 0], ring[1:, 1]
            for a, b, c, d in zip(x0, y0, x1, y1):
                straddle = (b > py) != (d > py)
                with np.errstate(divide="ignore", invalid="ignore"):
                    xc = a + (py - b) * (c - a) / (d - b)
                odd ^= straddle & (px < xc)
        hit |= odd
    return hit


# --- pages_region_tiles ---------------------------------------------------------


def page_url(i: int, salt: str) -> str:
    """The synthetic pages generator's url for row ``i`` (FIXTURES.md §1:
    host = i mod 1000), with the benchmark's seed salt appended."""
    return f"https://host{i % 1000}.example/{i}{salt}"


def url_lat_lon(urls: list[str]) -> tuple[np.ndarray, np.ndarray]:
    """Documented url geolocation (FIXTURES.md §1): one sha256 hex digest;
    lat = -60 + (hex[0:15] mod 1.3e6)/1e4, lon = -180 + (hex[15:30] mod 3.6e6)/1e4."""
    d = np.frombuffer(
        b"".join(hashlib.sha256(u.encode()).digest() for u in urls), dtype=np.uint8
    ).reshape(-1, 32)
    # hex[0:15] = the top 60 bits of bytes 0-7; hex[15:30] = the low 60 bits
    # of bytes 7-14
    h0 = d[:, 0:8].copy().view(">u8").ravel() >> np.uint64(4)
    h1 = d[:, 7:15].copy().view(">u8").ravel() & np.uint64((1 << 60) - 1)
    lat = -60.0 + (h0 % np.uint64(1_300_000)) / 10_000.0
    lon = -180.0 + (h1 % np.uint64(3_600_000)) / 10_000.0
    return lat, lon


def matches_per_point(px: np.ndarray, py: np.ndarray, polygon_wkbs: list[bytes]) -> np.ndarray:
    """Number of polygons containing each point, by brute force over every
    (point, polygon) pair."""
    return sum(inside_even_odd(px, py, wkb_polygons(b)).astype(np.int64) for b in polygon_wkbs)


# --- grid_overlay ---------------------------------------------------------------


def star_mask(seed: int, radius: float) -> list[tuple[float, float]]:
    """Seeded star-shaped polygon around the origin whose every vertex lies
    at distance [0.8, 1.0] x radius: the disc of radius 0.8 x radius x
    cos(pi / STAR_VERTICES) is inside it."""
    rng = random.Random(seed)
    out = []
    for k in range(STAR_VERTICES):
        r = radius * rng.uniform(0.8, 1.0)
        a = 2 * math.pi * k / STAR_VERTICES
        out.append((r * math.cos(a), r * math.sin(a)))
    return out


def parts_inside_disc(parts, r: float) -> bool:
    """Every vertex of every ring lies strictly within distance r of the
    origin (so the convex disc contains the whole geometry)."""
    return all(float(np.hypot(ring[:, 0], ring[:, 1]).max()) < r for rings in parts for ring in rings)


def mass_conserved(total_out: float, total_in: float) -> bool:
    return math.isfinite(total_out) and abs(total_out - total_in) <= MASS_REL_TOL * max(
        abs(total_in), 1.0
    )
