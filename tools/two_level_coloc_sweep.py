"""Routing-QUALITY sweep for the two-level quantizer at production-shaped
super-cell counts (the r9 verdict's open scale-evidence gap: the shipped
nprobe=8 → 0.99 pair co-location number was measured at nsuper ≈ 29, but at
the 4M-cell engagement point nsuper ≈ 2000 and 8 probes cover 0.4% of the
super space).

This is an ALGORITHM-quality measurement, not a plan measurement, so it
mirrors ``operators/similarity._assign_cells_two_level``'s routing math in
numpy (supers = the lowest ``nsuper`` cell ids; children = every centroid
routed to its max-cosine super, ties to the lowest id; vectors route to
their top-``nprobe`` supers and argmax over the union of those supers'
children) and sweeps (nsuper, nprobe) decades that would take hours through
Spark at 4M cells.  The Spark implementation itself is pinned equal to this
semantics by the exactness tests (flat ≡ two-level on a margin-structured
corpus; nprobe ≥ nsuper ≡ flat on any corpus) — what is measured here is
purely how routing QUALITY scales with nsuper.

Corpus model (same device as the r9 800-cluster measurement): ``ncells``
random unit cluster centers in d=64 (the testdata embedding dim); the
centers themselves are the centroid table, so the flat assignment maps each
member to its own cluster by construction (checked) and near-dup truth
pairs are within-cluster member pairs (pairwise cos ≈ 1/(1+σ²) ≈ 0.8 at
σ=0.5 — the SemDeDup regime).  Uniform-random centers are the documented
WORST CASE for hierarchical routing (mutually near-orthogonal at d ≫
log ncells, so single-probe routing is noise-driven); ``--geometry hier``
adds the favorable realistic case where centers carry super-cluster
structure (centers = meta-center + noise), which real embedding corpora
have.  Quality metrics are computed on a sample of clusters — co-location
only needs the sampled members' assignments, but those assignments argmax
over ALL ncells centroids, so nothing about the routing problem is
down-scaled except the number of vectors measured.

Cosines here use float32 BLAS without the engine's 6-decimal tie rounding:
rounding only arbitrates exact ties and cannot move aggregate quality
rates.  One further tie-rule divergence from the engine: when a vector's
best-cosine child appears under MORE THAN ONE probed super at exactly equal
cosine (a cross-super tie), this mirror keeps the child from the
earliest-iterated super's block, while the engine's `min_by` resolves to
the globally lowest cell id.  Like the rounding caveat, exact float32
cosine ties between distinct centroids are measure-zero on the random
corpora swept here, so neither divergence can move the reported rates; the
vector-for-vector mirror↔Spark equivalence test
(test_coloc_sweep_mirror_matches_shipped_routing) runs on tie-free
geometry by construction.

Run:  python tools/two_level_coloc_sweep.py [--geometry random|hier]
          [--ncells 40000,400000,4000000] [--nprobes 1,8,16,32,64,128]
Emits one JSON line per (ncells, nprobe) with vector agreement and
near-dup pair co-location vs the flat assignment.
"""

from __future__ import annotations

import json
import math
import sys
import time

import numpy as np

D = 64  # testdata embeddings dimension
# member = normalize(center + ε·g), g ~ N(0, I_d): E‖εg‖² = ε²d, so
# pairwise member cos ≈ 1/(1+ε²d) — ε²d = 0.25 puts truth pairs at the
# cos≈0.8 SemDeDup regime (member-to-own-center cos ≈ 0.894)
SIGMA = 0.5 / math.sqrt(64)
N_SAMPLE_CLUSTERS = 1024
MEMBERS = 2
CHUNK = 131072


def _normalize(a: np.ndarray) -> np.ndarray:
    return a / np.linalg.norm(a, axis=1, keepdims=True)


def make_centers(ncells: int, geometry: str, nsuper: int, rng) -> np.ndarray:
    c = rng.standard_normal((ncells, D)).astype(np.float32)
    if geometry == "hier":
        # realistic favorable case: centers share super-cluster structure —
        # nsuper meta-directions, each center = meta + comparable noise
        # (cos(center, meta) ≈ 0.7), metas assigned round-robin so the
        # lowest-id supers sample every meta
        metas = _normalize(
            rng.standard_normal((nsuper, D)).astype(np.float32)
        )
        c = metas[np.arange(ncells) % nsuper] + c / math.sqrt(D)
    return _normalize(c)


def chunked_argmax(X: np.ndarray, cents: np.ndarray) -> np.ndarray:
    """argmax_j cos(x, cents_j) per row of X, ties to the LOWEST j (the
    engine's tie rule) — strict > update keeps the earlier index."""
    n = X.shape[0]
    best = np.full(n, -np.inf, dtype=np.float32)
    cell = np.zeros(n, dtype=np.int64)
    for c0 in range(0, cents.shape[0], CHUNK):
        S = X @ cents[c0 : c0 + CHUNK].T
        am = np.argmax(S, axis=1)
        sc = S[np.arange(n), am]
        upd = sc > best
        best[upd] = sc[upd]
        cell[upd] = c0 + am[upd]
    return cell


def two_level_assign(
    X: np.ndarray,
    cents: np.ndarray,
    child_sup: np.ndarray,
    probes: np.ndarray,
) -> np.ndarray:
    """Mirror of _assign_cells_two_level's children argmax: per probed
    super, score that super's children for every vector that probed it."""
    n, nsuper = X.shape[0], int(child_sup.max()) + 1
    child_order = np.argsort(child_sup, kind="stable")
    bounds = np.searchsorted(child_sup[child_order], np.arange(nsuper + 1))
    rows = np.repeat(np.arange(n), probes.shape[1])
    cols = probes.ravel()
    o = np.argsort(cols, kind="stable")
    rows, cols = rows[o], cols[o]
    grp = np.searchsorted(cols, np.arange(nsuper + 1))
    best = np.full(n, -np.inf, dtype=np.float32)
    cell = np.zeros(n, dtype=np.int64)
    for s in range(nsuper):
        r0, r1 = grp[s], grp[s + 1]
        ch = child_order[bounds[s] : bounds[s + 1]]  # ascending cell ids
        if r0 == r1 or ch.size == 0:
            continue
        vi = rows[r0:r1]
        S = X[vi] @ cents[ch].T
        am = np.argmax(S, axis=1)
        sc = S[np.arange(vi.size), am]
        upd = sc > best[vi]
        tgt = vi[upd]
        best[tgt] = sc[upd]
        cell[tgt] = ch[am[upd]]
    return cell


def sweep(ncells: int, nprobes: list[int], geometry: str, seed: int = 0):
    rng = np.random.default_rng(seed)
    nsuper = max(2, math.isqrt(max(0, ncells - 1)) + 1)  # the shipped rule
    t0 = time.perf_counter()
    cents = make_centers(ncells, geometry, nsuper, rng)
    samp = rng.choice(
        ncells, size=min(N_SAMPLE_CLUSTERS, ncells), replace=False
    )
    X = _normalize(
        (
            cents[samp][:, None, :]
            + SIGMA * rng.standard_normal((samp.size, MEMBERS, D))
        )
        .astype(np.float32)
        .reshape(-1, D)
    )
    flat = chunked_argmax(X, cents)
    own = np.repeat(samp, MEMBERS)
    # sanity: flat must map members to their own generative cluster,
    # otherwise truth pairs don't mean anything at this (ncells, σ, d)
    flat_own = float(np.mean(flat == own))
    child_sup = chunked_argmax(cents, cents[:nsuper])
    route_scores = X @ cents[:nsuper].T
    route_order = np.argsort(-route_scores, axis=1, kind="stable")
    pa, pb = np.arange(0, X.shape[0], MEMBERS), np.arange(
        1, X.shape[0], MEMBERS
    )
    setup = time.perf_counter() - t0
    for nprobe in nprobes:
        if nprobe > nsuper:
            continue
        t1 = time.perf_counter()
        two = two_level_assign(X, cents, child_sup, route_order[:, :nprobe])
        print(
            json.dumps(
                {
                    "metric": "two_level_coloc_sweep",
                    "geometry": geometry,
                    "ncells": ncells,
                    "nsuper": nsuper,
                    "nprobe": nprobe,
                    "d": D,
                    "n_sampled_vectors": int(X.shape[0]),
                    "flat_own_cluster_rate": round(flat_own, 4),
                    "vector_agreement": round(float(np.mean(two == flat)), 4),
                    "pair_colocation": round(
                        float(np.mean(two[pa] == two[pb])), 4
                    ),
                    "scores_per_vector": nsuper + nprobe * ncells // nsuper,
                    "flat_scores_per_vector": ncells,
                    "sec_setup": round(setup, 1),
                    "sec_assign": round(time.perf_counter() - t1, 1),
                },
                separators=(",", ":"),
            ),
            flush=True,
        )


def main() -> None:
    global D, SIGMA
    geometry, ncells_list, nprobes = "random", [40000, 400000, 4000000], [
        1,
        8,
        16,
        32,
        64,
        128,
        256,
    ]
    args = sys.argv[1:]
    while args:
        a = args.pop(0)
        if a == "--geometry":
            geometry = args.pop(0)
        elif a == "--ncells":
            ncells_list = [int(v) for v in args.pop(0).split(",")]
        elif a == "--nprobes":
            nprobes = [int(v) for v in args.pop(0).split(",")]
        elif a == "--d":
            # dimension-sensitivity rung: real embedders are 256-1024-dim;
            # SIGMA rescales so truth pairs stay at cos ≈ 0.8 at any d
            D = int(args.pop(0))
            SIGMA = 0.5 / math.sqrt(D)
        else:
            raise SystemExit(f"unknown arg {a}")
    for ncells in ncells_list:
        sweep(ncells, nprobes, geometry)


if __name__ == "__main__":
    main()
