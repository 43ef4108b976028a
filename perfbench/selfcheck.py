#!/usr/bin/env python3
"""Shows that each answer check rejects a corrupted answer.

    python3 perfbench/selfcheck.py

Runs every benchmarked op once on a small lattice pair, checks the engine's
answer (it must pass), then corrupts it and checks again (it must fail):
one LSI pair dropped, one PIP face shifted by one, one overlay chain
removed, one nearest answer pointed at another edge, one kNN neighbour
swapped. nearest_edge and knn_points run here with a square scaling
(rx == ry), where the anisotropic-distance fault cannot show, so their
clean answers pass; the same ops with the layers' own, non-square scaling
are then reported as that fault. Exits 0 when every check behaves so.
"""

from __future__ import annotations

import os
import shutil
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path[:0] = [str(HERE), str(HERE.parent)]

import numpy as np  # noqa: E402

import closedform as cf  # noqa: E402
import run  # noqa: E402
from checks import check_knn, check_lsi, check_nearest, check_overlay, check_pip  # noqa: E402

M, GRID, SEED = 8, 16, 3


def main() -> int:
    from rayjoin_spark import GridSpec, Scaling, build_edges, lsi_join, overlay, pip_locate
    from rayjoin_spark.operators.knn import knn_points
    from rayjoin_spark.operators.nearest import nearest_edge
    from rayjoin_spark.plans.layers import EID_STRIDE_DEFAULT as STRIDE
    from workloads import DIST_SNAP_UNITS, FACE_OFFSET, _Lattice, snap_unit

    work = run.ROOT / ".perfbench_work" / f"selfcheck-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    results = []

    def expect(label, verdict, want):
        good = verdict.status == want
        results.append(good)
        print(f"{'PASS' if good else 'FAIL'} {label}: {verdict.status} (want {want}): "
              f"{verdict.detail}")

    try:
        spark, _ = run.start_session(work, trace=False)
        try:
            grid = GridSpec(GRID)
            lat = _Lattice(spark, M, cf.seed_transform(SEED))
            lat.build_inputs()
            ea = build_edges(lat.ca, lat.pa, lat.scaling)
            eb = build_edges(lat.cb, lat.pb, lat.scaling)

            pairs = lsi_join(ea, eb, grid).toPandas()
            expected = cf.expected_lsi(M, cf.lattice_edges(M, STRIDE, lat.t), STRIDE, lat.eps)
            a, b = pairs["eid_a"].to_numpy(), pairs["eid_b"].to_numpy()
            expect("lsi", check_lsi(a, b, *expected), "ok")
            expect("lsi, one pair dropped", check_lsi(a[1:], b[1:], *expected), "wrong")

            n = 20_000
            pip = pip_locate(lat.point_df(n, 1), ea, lat.scaling, grid).toPandas()
            x, y = lat.point_xy(n, 1)
            face, amb = cf.expected_pip(x, y, M, lat.eps)
            pid, f = pip["point_id"].to_numpy(), pip["face_id"].to_numpy()
            expect("pip", check_pip(pid, f, x, y, M, lat.eps, face, amb), "ok")
            f2 = f.copy()
            f2[np.flatnonzero(f2)[0]] += 1
            expect("pip, one face shifted by one",
                   check_pip(pid, f2, x, y, M, lat.eps, face, amb), "wrong")

            chains, points = (d.toPandas() for d in overlay(
                lat.ca, lat.pa, lat.cb, lat.pb, lat.scaling, grid))
            frag = cf.overlay_fragments(M, lat.t, lat.eps)
            if frag[1]:
                print(f"FAIL seed {SEED} has ambiguous overlay chains; pick another")
                return 1
            ch = {c: chains[c].to_numpy() for c in ("chain_id", "left_face", "right_face")}
            pt = {c: points[c].to_numpy() for c in ("chain_id", "seq", "x", "y")}
            expect("overlay", check_overlay(ch, pt, M, lat.t, frag, FACE_OFFSET), "ok")
            cut = {c: v[1:] for c, v in ch.items()}
            expect("overlay, one chain removed",
                   check_overlay(cut, pt, M, lat.t, frag, FACE_OFFSET), "wrong")

            # point queries: square scaling first, then the layers' own
            square = Scaling.from_bbox(-1.0, M + 1.0, -1.0, M + 1.0)
            a_edges = cf.lattice_edges(M, STRIDE)
            o = np.argsort(a_edges.eid)
            by_eid = tuple(v[o] for v in (a_edges.eid, a_edges.x1, a_edges.y1,
                                          a_edges.x2, a_edges.y2))
            qx, qy = lat.point_xy(2_000, 7)
            cx, cy = lat.point_xy(1_000, 8)
            corpus = lat.point_df(1_000, 8).withColumnRenamed("point_id", "corpus_id")
            for label, sc in (("square scaling", square), ("layer scaling", lat.scaling)):
                want = "ok" if sc is square else "fault"
                tol = DIST_SNAP_UNITS * snap_unit(sc)
                ne = nearest_edge(lat.point_df(2_000, 7), build_edges(lat.ca, lat.pa, sc),
                                  sc, grid).toPandas()
                q, e = ne["point_id"].to_numpy(), ne["eid"].to_numpy()
                expect(f"nearest, {label}", check_nearest(q, e, qx, qy, M, by_eid, sc, tol), want)
                kn = knn_points(lat.point_df(2_000, 7), corpus, sc, grid, k=3).toPandas()
                cols = [kn[c].to_numpy() for c in ("point_id", "corpus_id", "rank", "dist2")]
                expect(f"knn, {label}", check_knn(*cols, qx, qy, cx, cy, 3, sc, tol), want)
                if sc is not square:
                    continue
                far = e.copy()
                far[0] = by_eid[0][np.argmax(cf.seg_dist(
                    qx[q[0]], qy[q[0]], *by_eid[1:]))]
                expect("nearest, one answer moved to the farthest edge",
                       check_nearest(q, far, qx, qy, M, by_eid, sc, tol), "wrong")
                swapped = [c.copy() for c in cols]
                first = np.flatnonzero((cols[0] == 0) & (cols[2] == 1))[0]
                j = int(np.argmax(np.hypot(cx - qx[0], cy - qy[0])))
                swapped[1][first] = j
                # keep dist2 consistent with the swapped point, so only the
                # distance comparison can catch it
                (sx, sy), (tx, ty) = sc.scale_xy(cx[j], cy[j]), sc.scale_xy(qx[0], qy[0])
                swapped[3][first] = (sx - tx) ** 2 + (sy - ty) ** 2
                expect("knn, one neighbour swapped for the farthest point",
                       check_knn(*swapped, qx, qy, cx, cy, 3, sc, tol), "wrong")
        finally:
            run.stop_session(spark)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(f"selfcheck: {sum(results)} of {len(results)} as expected")
    return 0 if all(results) else 1


if __name__ == "__main__":
    sys.exit(main())
