"""Checks of engine answers against the closed forms in closedform.py.

Each check takes the engine's answer as numpy arrays and returns a
`Verdict`: "ok", "wrong", or "fault" for the known anisotropic-distance
fault of nearest_edge / knn_points (the answer is right in the engine's
snapped integer space, whose x and y scales differ, but wrong in the
Euclidean space of the input). A "fault" is counted as a failed operation;
a "wrong" answer makes the run incorrect.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

from closedform import (
    face_key,
    lattice_nearest_dist,
    pip_alternatives,
    seg_dist,
)

ANISOTROPIC = (
    "anisotropic-distance fault: nearest_edge/knn_points rank by squared "
    "distance in the snapped space, which scales x by Scaling.rx and y by "
    "Scaling.ry (rx != ry on a non-square extent)"
)


@dataclass
class Verdict:
    status: str  # "ok" | "wrong" | "fault"
    detail: str

    @property
    def ok(self) -> bool:
        return self.status == "ok"


def _exactly_once(ids: np.ndarray, n: int) -> str | None:
    u, c = np.unique(ids, return_counts=True)
    if len(u) != n or (c > 1).any() or (len(u) and (u[0] != 0 or u[-1] != n - 1)):
        return f"{len(u)} distinct of {n} ids, {int((c > 1).sum())} repeated"
    return None


def check_lsi(eid_a, eid_b, required: set, optional: set) -> Verdict:
    got = list(zip(eid_a.tolist(), eid_b.tolist()))
    seen = set(got)
    dup = len(got) - len(seen)
    missing = len(required - seen)
    extra = len(seen - required - optional)
    detail = (f"{len(got)} pairs, expected {len(required)} (+{len(optional)} "
              f"optional); missing {missing}, extra {extra}, duplicates {dup}")
    ok = not (dup or missing or extra)
    return Verdict("ok" if ok else "wrong", detail)


def check_pip(point_id, face, x, y, m: int, eps: float, expected, amb) -> Verdict:
    bad_ids = _exactly_once(point_id, len(x))
    if bad_ids:
        return Verdict("wrong", bad_ids)
    f = np.empty(len(x), np.int64)
    f[point_id] = face
    miss = (f != expected) & ~amb
    alts = pip_alternatives(x[amb], y[amb], m, eps)
    miss_amb = ~(alts == f[amb]).any(axis=0)
    n_bad = int(miss.sum() + miss_amb.sum())
    detail = (f"{len(x)} points, {n_bad} wrong faces, {int(amb.sum())} on a "
              "lattice line (either neighbour accepted)")
    return Verdict("wrong" if n_bad else "ok", detail)


def check_overlay(chains, points, m: int, t, expected: tuple[int, int],
                  offset: float) -> Verdict:
    """chains: dict of arrays (chain_id, left_face, right_face); points:
    dict of arrays (chain_id, seq, x, y). Checks the chain count and that
    engine face ids map one-to-one onto closed-form face keys taken
    `offset` left and right of each fragment's midpoint."""
    count, slack = expected
    n = len(chains["chain_id"])
    problems = []
    if abs(n - count) > slack:
        problems.append(f"{n} chains, expected {count} +- {slack}")
    order = np.lexsort((points["seq"], points["chain_id"]))
    cid = points["chain_id"][order]
    px, py = points["x"][order], points["y"][order]
    first = np.r_[True, cid[1:] != cid[:-1]]
    last = np.r_[cid[1:] != cid[:-1], True]
    fid, fx, fy, lx, ly = cid[first], px[first], py[first], px[last], py[last]
    pos = np.searchsorted(fid, chains["chain_id"])
    if (pos >= len(fid)).any() or (fid[np.minimum(pos, len(fid) - 1)] != chains["chain_id"]).any():
        problems.append("chains without points")
        return Verdict("wrong", "; ".join(problems))
    fx, fy, lx, ly = fx[pos], fy[pos], lx[pos], ly[pos]
    dx, dy = lx - fx, ly - fy
    length = np.hypot(dx, dy)
    # too short to step sideways off the fragment without crossing a line
    short = length < 100 * offset
    nx = -dy / np.where(length == 0, 1, length) * offset
    ny = dx / np.where(length == 0, 1, length) * offset
    mx, my = (fx + lx) / 2, (fy + ly) / 2
    mapping: dict[int, tuple] = {}
    inverse: dict[tuple, int] = {}
    clashes = 0
    for side, sign in (("left_face", 1.0), ("right_face", -1.0)):
        k1, k2 = face_key(mx + sign * nx, my + sign * ny, m, t)
        for fid_, a, b in zip(chains[side][~short].tolist(), k1[~short].tolist(),
                              k2[~short].tolist()):
            key = (a, b)
            if mapping.setdefault(fid_, key) != key or inverse.setdefault(key, fid_) != fid_:
                clashes += 1
    if clashes:
        problems.append(f"{clashes} fragment sides whose face id and closed-form "
                        "face key disagree")
    detail = (f"{n} chains (expected {count} +- {slack}), {len(mapping)} faces, "
              f"{int(short.sum())} fragments too short to probe")
    if problems:
        detail += "; " + "; ".join(problems)
    return Verdict("wrong" if problems else "ok", detail)


def _snap(v, r, d):
    return np.trunc(v * r + d)


def check_nearest(qid, eid, qx, qy, m: int, edges_by_eid, scaling, tol: float) -> Verdict:
    """edges_by_eid: (sorted eids, x1, y1, x2, y2) of layer A."""
    bad_ids = _exactly_once(qid, len(qx))
    if bad_ids:
        return Verdict("wrong", bad_ids)
    eids, ex1, ey1, ex2, ey2 = edges_by_eid
    px, py = qx[qid], qy[qid]
    k = np.searchsorted(eids, eid)
    if (k >= len(eids)).any() or (eids[np.minimum(k, len(eids) - 1)] != eid).any():
        return Verdict("wrong", "answers name edges layer A does not have")
    d_ans = seg_dist(px, py, ex1[k], ey1[k], ex2[k], ey2[k])
    d_true = lattice_nearest_dist(px, py, m)
    far = d_ans > d_true + tol
    detail = f"{len(qx)} points, {int(far.sum())} name an edge farther than the nearest"
    if not far.any():
        return Verdict("ok", detail)
    # the same question in the engine's snapped space
    s = scaling
    sx, sy = _snap(px, s.rx, s.dx), _snap(py, s.ry, s.dy)
    d_snap = seg_dist(sx, sy, _snap(ex1[k], s.rx, s.dx), _snap(ey1[k], s.ry, s.dy),
                      _snap(ex2[k], s.rx, s.dx), _snap(ey2[k], s.ry, s.dy))
    grid_x = _snap(np.arange(m + 1.0), s.rx, s.dx)
    grid_y = _snap(np.arange(m + 1.0), s.ry, s.dy)
    d_snap_true = np.full(len(px), np.inf)
    for gx, gy, ux, uy in ((grid_x, grid_y, sx, sy), (grid_y, grid_x, sy, sx)):
        # lines u = g[i] spanning g[0]..g[m] in the other coordinate
        i0 = np.clip(np.searchsorted(gx, ux), 0, m)
        for i in (i0 - 1, i0):
            i = np.clip(i, 0, m)
            d = np.hypot(ux - gx[i], uy - np.clip(uy, gy[0], gy[-1]))
            d_snap_true = np.minimum(d_snap_true, d)
    if (d_snap[far] <= d_snap_true[far] + 2.0).all():
        return Verdict("fault", f"{detail}; all are nearest in the snapped space: {ANISOTROPIC}")
    return Verdict("wrong", f"{detail}, and not nearest in the snapped space either")


def _k_smallest(dq, k):
    part = np.partition(dq, k - 1, axis=1)[:, :k]
    return np.sort(part, axis=1)


def check_knn(qid, cid, rank, dist2, qx, qy, cx, cy, k: int, scaling, tol: float,
              chunk: int = 1024) -> Verdict:
    nq = len(qx)
    order = np.lexsort((rank, qid))
    qid, cid, rank, dist2 = qid[order], cid[order], rank[order], dist2[order]
    if len(qid) != nq * k or not (rank.reshape(nq, k) == np.arange(1, k + 1)).all() or \
            not (qid.reshape(nq, k)[:, 0] == np.arange(nq)).all():
        return Verdict("wrong", f"{len(qid)} rows for {nq} queries, expected {k} ranked rows each")
    cid = cid.reshape(nq, k)
    s = scaling
    # integer squared distances reach 2^59: keep them in int64
    sqx, sqy = (_snap(qx, s.rx, s.dx).astype(np.int64),
                _snap(qy, s.ry, s.dy).astype(np.int64))
    scx, scy = (_snap(cx, s.rx, s.dx).astype(np.int64),
                _snap(cy, s.ry, s.dy).astype(np.int64))
    got = np.sort(np.hypot(cx[cid] - qx[:, None], cy[cid] - qy[:, None]), axis=1)
    got_s = np.sort((scx[cid] - sqx[:, None]) ** 2 + (scy[cid] - sqy[:, None]) ** 2, axis=1)
    bad_d2 = int((got_s != np.sort(dist2.reshape(nq, k), axis=1)).any(axis=1).sum())
    if bad_d2:
        return Verdict("wrong", f"{bad_d2} queries whose dist2 values are not the "
                       "snapped distances of the returned points")
    wrong_e = np.zeros(nq, bool)
    wrong_s = np.zeros(nq, bool)
    for a in range(0, nq, chunk):
        b = min(nq, a + chunk)
        de = np.hypot(cx[None, :] - qx[a:b, None], cy[None, :] - qy[a:b, None])
        wrong_e[a:b] = (np.abs(_k_smallest(de, k) - got[a:b]) > tol).any(axis=1)
        ds = (scx[None, :] - sqx[a:b, None]) ** 2 + (scy[None, :] - sqy[a:b, None]) ** 2
        wrong_s[a:b] = (_k_smallest(ds, k) != got_s[a:b]).any(axis=1)
    detail = (f"{nq} queries, {int(wrong_e.sum())} whose {k} distances differ from "
              "the brute-force Euclidean ones")
    if not wrong_e.any():
        return Verdict("ok", detail)
    if not wrong_s.any():
        return Verdict("fault", f"{detail}; all match brute force in the snapped "
                       f"space: {ANISOTROPIC}")
    return Verdict("wrong", f"{detail}; {int(wrong_s.sum())} differ in the snapped space too")
