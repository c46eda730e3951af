"""Output checks, each against a computation made apart from the engine.

Every check raises :class:`CheckFailed` on a wrong output; the runner
counts that operation as failed and the run goes on.
"""

from __future__ import annotations

import numpy as np


class CheckFailed(Exception):
    pass


def check_knn(ids, dists, q, kth: float, corpus, k: int, exact: bool) -> int:
    """One query's result rows (``ids``, ``dists`` in returned order)
    against the live ``corpus``; ``kth`` is the float64 brute-force
    distance of the query's k-th nearest live row.

    Checks: exactly ``k`` distinct rows, only live ids (a deleted id must
    never come back), each ``_distance`` equal to the float64 distance
    recomputed from the stored vector, ascending order, and, if ``exact``,
    the id set equal to the float64 brute-force top-k up to ties.
    Returns how many returned rows are true top-k neighbours (recall)."""
    ids = np.asarray(ids, dtype=np.int64)
    dists = np.asarray(dists, dtype=np.float64)
    if len(ids) != k:
        raise CheckFailed(f"expected {k} rows, got {len(ids)}")
    if len(np.unique(ids)) != k:
        raise CheckFailed("duplicate ids in one result")
    pos = corpus.positions(ids)
    if (pos < 0).any():
        raise CheckFailed(f"ids not among the live rows: {ids[pos < 0][:5].tolist()}")
    tol = corpus.tol(q)
    mine = corpus.exact(pos, q)
    err = np.abs(mine - dists)
    if err.max() > tol:
        i = int(np.argmax(err))
        raise CheckFailed(f"_distance {dists[i]} != recomputed {mine[i]} for id {ids[i]}")
    if (np.diff(dists) < -tol).any():
        raise CheckFailed("rows not in ascending _distance order")
    hits = int((mine <= kth + tol).sum())
    if exact and hits != k:
        raise CheckFailed(f"top-{k} differs from brute force: {k - hits} rows beyond the k-th distance")
    return hits


def check_same_rows(a_ids, b_ids, what: str) -> None:
    if list(map(int, a_ids)) != list(map(int, b_ids)):
        raise CheckFailed(f"{what}: {list(a_ids)} != {list(b_ids)}")


def check_finds_self(ids, dists, target: int) -> None:
    """An inserted vector, queried as itself, comes back first at distance 0."""
    if not len(ids) or int(ids[0]) != int(target) or abs(float(dists[0])) > 1e-3:
        raise CheckFailed(f"inserted id {target} not returned first at distance 0: {list(ids)[:3]}")


def check_index_info(rows, names, live: int) -> None:
    """After vacuum every index counts exactly the live rows, none deleted."""
    got = {r["name"]: (int(r["num_vectors"]), int(r["num_deleted"])) for r in rows}
    for n in names:
        if got.get(n) != (live, 0):
            raise CheckFailed(f"ann_index_info[{n}] = {got.get(n)}, expected ({live}, 0)")


def check_dedup(rows, family: dict) -> tuple[list[int], float]:
    """``rows`` = (doc_id, cluster, keep) from ``dedup_fuzzy`` against the
    planted ``family`` labels.  Every document appears once; each cluster
    is labelled by its minimum id and keeps exactly that document; no
    cluster spans two families and no family is split across clusters.
    Returns (kept ids ascending, planted-pair recall)."""
    cluster = {}
    keep = {}
    for doc, cl, kp in rows:
        if doc in cluster:
            raise CheckFailed(f"doc {doc} appears twice")
        cluster[int(doc)], keep[int(doc)] = int(cl), bool(kp)
    if set(cluster) != set(family):
        raise CheckFailed(f"{len(set(family) ^ set(cluster))} documents missing or extra")
    members: dict[int, list[int]] = {}
    for doc, cl in cluster.items():
        members.setdefault(cl, []).append(doc)
    fam_clusters: dict[int, set] = {}
    for cl, docs in members.items():
        if cl != min(docs):
            raise CheckFailed(f"cluster {cl} is not labelled by its minimum id {min(docs)}")
        fams = {family[d] for d in docs}
        if len(fams) > 1:
            raise CheckFailed(f"cluster {cl} spans planted families {sorted(fams)[:4]}")
        fam_clusters.setdefault(fams.pop(), set()).add(cl)
        kept = [d for d in docs if keep[d]]
        if kept != [cl]:
            raise CheckFailed(f"cluster {cl} keeps {kept}, expected [{cl}]")
    split = {f: c for f, c in fam_clusters.items() if len(c) > 1}
    if split:
        f = next(iter(split))
        raise CheckFailed(f"planted family {f} split across clusters {sorted(split[f])}")
    pairs = together = 0
    by_family: dict[int, list[int]] = {}
    for doc, f in family.items():
        by_family.setdefault(f, []).append(doc)
    for docs in by_family.values():
        n = len(docs)
        pairs += n * (n - 1) // 2
        sizes: dict[int, int] = {}
        for d in docs:
            sizes[cluster[d]] = sizes.get(cluster[d], 0) + 1
        together += sum(s * (s - 1) // 2 for s in sizes.values())
    return sorted(d for d, kp in keep.items() if kp), (together / pairs if pairs else 1.0)
