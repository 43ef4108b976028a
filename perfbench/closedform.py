"""Closed-form answers for the benchmark inputs, computed in numpy.

Nothing here calls the engine. The lattice pair and the point sets are the
ones `rayjoin_spark.sources.datagen` builds (layer A = `lattice_chains`,
layer B = `transformed_lattice`, 5% of chains split into 4-segment
polylines by `subdivide_fraction`), re-derived here from their formulas so
every engine answer can be checked against geometry, not against the
engine itself.

Every expected answer comes with an *ambiguity* flag: a crossing or a point
that lies within a few snap units of a vertex or a grid line can go either
way in the engine's snapped-integer arithmetic. Those are counted and
allowed either answer; everything else must match exactly.
"""

from __future__ import annotations

import math
from dataclasses import dataclass

import numpy as np

# uniform_points' multiplicative hashes (sources/datagen.py)
MULT_X = 2654435761
MULT_Y = 2246822519
MOD = 1 << 32
#: every `SUBDIV_EVERY`-th chain is split into `SUBDIV_S` collinear segments
SUBDIV_EVERY = 20
SUBDIV_S = 4


@dataclass(frozen=True)
class Transform:
    """Layer B = layer A scaled, rotated about the origin, then shifted."""

    scale: float
    angle_deg: float
    dx: float
    dy: float

    @property
    def cs(self) -> tuple[float, float]:
        # same expressions as transformed_lattice, so B is bit-identical
        c = self.scale * math.cos(math.radians(self.angle_deg))
        s = self.scale * math.sin(math.radians(self.angle_deg))
        return c, s

    def apply(self, x, y):
        c, s = self.cs
        return x * c - y * s + self.dx, x * s + y * c + self.dy

    def invert(self, x, y):
        c, s = self.cs
        k = self.scale * self.scale
        u, v = x - self.dx, y - self.dy
        return (u * c + v * s) / k, (v * c - u * s) / k


#: the transform `transformed_lattice` uses by default
DEFAULT_TRANSFORM = Transform(0.7, 13.0, 0.23, 0.37)


def seed_transform(seed: int) -> Transform:
    """Seed -> layer-B transform. B stays rotated by at least 12 degrees, so
    its corner (0, m) pokes out left of A and the joint extent is never
    square; the scale keeps B's far corners inside A's right and top. The
    ranges are narrow so that the seed moves the geometry but not the amount
    of work (crossings, output chains) by more than a few per cent."""
    r = np.random.default_rng(seed)
    return Transform(
        scale=float(r.uniform(0.69, 0.71)),
        angle_deg=float(r.uniform(12.0, 14.0)),
        dx=float(r.uniform(0.20, 0.30)),
        dy=float(r.uniform(0.30, 0.40)),
    )


@dataclass
class Edges:
    """One layer's edges: eid and endpoints in input units."""

    eid: np.ndarray
    x1: np.ndarray
    y1: np.ndarray
    x2: np.ndarray
    y2: np.ndarray


def lattice_chain_ends(m: int):
    """(chain_id, x0, y0, x1, y1) of the m x m unit lattice's 2-point chains,
    numbered as lattice_chains numbers them."""
    nv = (m + 1) * m
    c = np.arange(nv, dtype=np.int64)
    vi, vj = c // m, c % m
    hi, hj = c % m, c // m
    chain = np.concatenate([c, c + nv])
    x0 = np.concatenate([vi, hi]).astype(float)
    y0 = np.concatenate([vj, hj]).astype(float)
    x1 = np.concatenate([vi, hi + 1]).astype(float)
    y1 = np.concatenate([vj + 1, hj]).astype(float)
    return chain, x0, y0, x1, y1


def lattice_edges(m: int, eid_stride: int, t: Transform | None = None) -> Edges:
    """Edges of layer A (t=None) or layer B after subdivide_fraction."""
    chain, x0, y0, x1, y1 = lattice_chain_ends(m)
    if t is not None:
        x0, y0 = t.apply(x0, y0)
        x1, y1 = t.apply(x1, y1)
    sub = chain % SUBDIV_EVERY == 0
    # plain chains: one edge, seq 0
    parts = [(chain[~sub], np.zeros((~sub).sum(), np.int64),
              x0[~sub], y0[~sub], x1[~sub], y1[~sub])]
    # split chains: point k at x + ((x2 - x) * k) / s, the last point is
    # the original end (subdivide_points' arithmetic, term for term)
    cs, a0, b0, a1, b1 = chain[sub], x0[sub], y0[sub], x1[sub], y1[sub]
    for k in range(SUBDIV_S):
        px = a0 + (a1 - a0) * k / SUBDIV_S
        py = b0 + (b1 - b0) * k / SUBDIV_S
        if k + 1 < SUBDIV_S:
            qx = a0 + (a1 - a0) * (k + 1) / SUBDIV_S
            qy = b0 + (b1 - b0) * (k + 1) / SUBDIV_S
        else:
            qx, qy = a1, b1
        parts.append((cs, np.full(len(cs), k, np.int64), px, py, qx, qy))
    ch, seq, ax, ay, bx, by = (np.concatenate(z) for z in zip(*parts))
    return Edges(ch * eid_stride + seq, ax, ay, bx, by)


def uniform_points(n: int, lo_x: float, hi_x: float, lo_y: float, hi_y: float,
                   seed: int):
    """uniform_points' coordinates, bit for bit (ids are 0..n-1)."""
    h = np.arange(n, dtype=np.int64) + np.int64(seed * 1_000_003)
    hx = (h * np.int64(MULT_X)) % MOD
    hy = (h * np.int64(MULT_Y)) % MOD
    x = lo_x + hx / float(MOD) * (hi_x - lo_x)
    y = lo_y + hy / float(MOD) * (hi_y - lo_y)
    return x, y


def _near_grid(v, step: float, eps: float):
    """True where v lies within eps of a multiple of step."""
    r = v / step
    return np.abs(r - np.round(r)) * step < eps


def line_crossings(x1, y1, x2, y2, m: int, eps: float):
    """Crossings of segments with the lines of the unit lattice [0, m]^2.

    Returns (seg, axis, line, t, along, amb): segment index, axis 0 for the
    vertical lines x = line and 1 for horizontal ones, the parameter t on
    the segment, the coordinate along the crossed line, and whether the
    crossing is within eps of a segment end or of a lattice line end
    (then the snapped engine may decide it either way). Crossings just
    outside a segment end (within eps) are included and flagged."""
    out = []
    for axis, (p1, q1, p2, q2) in enumerate([(x1, y1, x2, y2), (y1, x1, y2, x2)]):
        lo = np.ceil(np.minimum(p1, p2) - eps).astype(np.int64)
        hi = np.floor(np.maximum(p1, p2) + eps).astype(np.int64)
        lo, hi = np.maximum(lo, 0), np.minimum(hi, m)
        cnt = np.maximum(hi - lo + 1, 0)
        seg = np.repeat(np.arange(len(p1)), cnt)
        first = np.repeat(np.cumsum(cnt) - cnt, cnt)
        line = np.repeat(lo, cnt) + (np.arange(cnt.sum()) - first)
        dp = p2[seg] - p1[seg]
        ok = dp != 0
        seg, line, dp = seg[ok], line[ok], dp[ok]
        t = (line - p1[seg]) / dp
        along = q1[seg] + t * (q2[seg] - q1[seg])
        length = np.hypot(dp, q2[seg] - q1[seg])
        inside = (along >= -eps) & (along <= m + eps) & (t * length >= -eps) & (
            (1 - t) * length >= -eps)
        seg, line, t, along, length = (a[inside] for a in (seg, line, t, along, length))
        amb = (np.minimum(t, 1 - t) * length < eps) | _near_grid(along, 1.0, eps)
        out.append((seg, np.full(len(seg), axis), line, t, along, amb))
    return tuple(np.concatenate(z) for z in zip(*out))


def _a_eid(axis, line, along, m: int, eid_stride: int):
    """Edge of layer A that the point `along` on lattice line `line` lies on."""
    k = np.clip(np.floor(along), 0, m - 1).astype(np.int64)
    nv = (m + 1) * m
    chain = np.where(axis == 0, line * m + k, nv + line * m + k)
    frac = along - k
    seq = np.where(chain % SUBDIV_EVERY == 0,
                   np.clip(np.floor(frac * SUBDIV_S), 0, SUBDIV_S - 1), 0)
    return chain * eid_stride + seq.astype(np.int64)


def expected_lsi(m: int, eb: Edges, eid_stride: int, eps: float):
    """Closed-form LSI pairs of layer A with B's edges.

    Returns (required, optional): sets of (eid_a, eid_b). Every required
    pair must be reported; an optional pair may be (a crossing within eps
    of a vertex, in either layer). Anything else is a wrong answer."""
    seg, axis, line, t, along, amb = line_crossings(eb.x1, eb.y1, eb.x2, eb.y2, m, eps)
    sub_vertex = _near_grid(along, 1.0 / SUBDIV_S, eps)
    amb = amb | sub_vertex
    eid_b = eb.eid[seg]
    required = set(zip(_a_eid(axis, line, along, m, eid_stride)[~amb].tolist(),
                       eid_b[~amb].tolist()))
    optional = set()
    for d in (-eps, 0.0, eps):
        ea = _a_eid(axis[amb], line[amb], along[amb] + d, m, eid_stride)
        optional |= set(zip(ea.tolist(), eid_b[amb].tolist()))
    return required, optional - required


def cell_id(x, y, m: int):
    """Face of layer A at (x, y): 1 + floor(x)*m + floor(y) inside, else 0."""
    inside = (x > 0) & (x < m) & (y > 0) & (y < m)
    fx = np.clip(np.floor(x), 0, m - 1).astype(np.int64)
    fy = np.clip(np.floor(y), 0, m - 1).astype(np.int64)
    return np.where(inside, 1 + fx * m + fy, 0)


def expected_pip(x, y, m: int, eps: float):
    """(face, ambiguous): layer-A face of each point; ambiguous points lie
    within eps of a lattice line and may be given either neighbour."""
    amb = (_near_grid(x, 1.0, eps) & (y > -eps) & (y < m + eps)) | (
        _near_grid(y, 1.0, eps) & (x > -eps) & (x < m + eps))
    return cell_id(x, y, m), amb


def pip_alternatives(x, y, m: int, eps: float):
    """The faces a point within eps of a line may be given (4 x n)."""
    return np.stack([cell_id(x + sx, y + sy, m)
                     for sx in (-eps, eps) for sy in (-eps, eps)])


def overlay_fragments(m: int, t: Transform, eps: float):
    """Expected overlay chain count: chains of both layers split at their
    crossings with the other layer; a fragment is kept when its midpoint
    lies inside the other layer.

    Returns (count, slack): `slack` bounds how far chains with an
    ambiguous crossing can move the count either way (2 per such chain)."""
    chain, x0, y0, x1, y1 = lattice_chain_ends(m)
    bx0, by0 = t.apply(x0, y0)
    bx1, by1 = t.apply(x1, y1)
    count = slack = 0
    # A's chains in B's frame (where B is the unit lattice), then B's chains
    # in A's frame (the identity)
    for sx0, sy0, sx1, sy1 in (
        (*t.invert(x0, y0), *t.invert(x1, y1)),
        (bx0, by0, bx1, by1),
    ):
        seg, _, _, tt, _, amb = line_crossings(sx0, sy0, sx1, sy1, m, eps)
        sub = (chain[seg] % SUBDIV_EVERY == 0) & _near_grid(tt, 1.0 / SUBDIV_S, eps)
        bad = np.zeros(len(chain), bool)
        bad[seg[amb | sub]] = True
        # per chain: sorted split parameters 0 < t_1 < ... < 1
        ts = np.concatenate([tt, np.zeros(len(chain)), np.ones(len(chain))])
        owner = np.concatenate([seg, np.arange(len(chain)), np.arange(len(chain))])
        order = np.lexsort((ts, owner))
        ts, owner = ts[order], owner[order]
        same = owner[1:] == owner[:-1]
        mid = (ts[1:] + ts[:-1])[same] / 2
        own = owner[1:][same]
        mx = sx0[own] + mid * (sx1[own] - sx0[own])
        my = sy0[own] + mid * (sy1[own] - sy0[own])
        keep = (mx > 0) & (mx < m) & (my > 0) & (my < m)
        count += int(keep.sum())
        slack += 2 * int(bad.sum())
    return count, slack


def face_key(px, py, m: int, t: Transform):
    """Closed-form overlay face key at points: the sorted (A cell, B cell)
    pair, (0, 0) outside either layer."""
    a = cell_id(px, py, m)
    b = cell_id(*t.invert(px, py), m)
    lo, hi = np.minimum(a, b), np.maximum(a, b)
    out = (a == 0) | (b == 0)
    return np.where(out, 0, lo), np.where(out, 0, hi)


def lattice_nearest_dist(x, y, m: int):
    """Euclidean distance from points to the nearest edge of layer A."""
    i = np.clip(np.round(x), 0, m)
    j = np.clip(np.round(y), 0, m)
    dv = np.hypot(x - i, y - np.clip(y, 0, m))
    dh = np.hypot(y - j, x - np.clip(x, 0, m))
    return np.minimum(dv, dh)


def seg_dist(px, py, x1, y1, x2, y2):
    """Distance from points to segments, elementwise."""
    vx, vy = x2 - x1, y2 - y1
    den = vx * vx + vy * vy
    u = np.clip(((px - x1) * vx + (py - y1) * vy) / np.where(den == 0, 1, den), 0, 1)
    return np.hypot(px - (x1 + u * vx), py - (y1 + u * vy))
