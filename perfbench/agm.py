"""Seeded planted-community graphs from the Affiliation Graph Model.

The AGM is the generative model BigCLAM fits: every node belongs to a
few communities and edges appear inside communities. The generator
here is deliberately simple and fully determined by its seed:

- every node joins ``1 + Binomial(3, 0.3)`` distinct communities,
  drawn with Zipf weights (Gumbel top-k, so it is vectorized);
- inside each community a random spanning path is laid first, so every
  member has at least one in-community edge (a node with only
  background edges forms isolated pairs whose conductance is 0, which
  win seeding and stall the optimizer), then about ``deg_in`` extra
  neighbors per member are drawn uniformly inside the community;
- ``bg_frac`` of the community edge count is added as uniform
  background pairs.

Node ids are a seeded permutation of ``1..n`` so id order carries no
community information. The planted memberships are kept as ground
truth. The same arguments give byte-identical edge lists.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

HEADER = (
    "# Undirected graph (each unordered pair of nodes is saved once): {name}\n"
    "# Planted-community AGM graph, seed {seed}\n"
    "# Nodes: {nodes} Edges: {edges}\n"
    "# FromNodeId\tToNodeId\n"
)


@dataclass
class AgmGraph:
    n_nodes: int
    edges: np.ndarray  # (E, 2) int64, u < v, unique, sorted
    communities: list[np.ndarray]  # planted member ids per community

    def vertex_ids(self) -> np.ndarray:
        return np.unique(self.edges)


def generate(
    seed: int,
    n_nodes: int,
    n_comms: int,
    deg_in: float = 6.0,
    zipf_s: float = 0.6,
    bg_frac: float = 0.05,
    extra_memberships: tuple[int, float] = (3, 0.3),
) -> AgmGraph:
    rng = np.random.default_rng(seed)
    n, c = n_nodes, n_comms
    n_memb = 1 + rng.binomial(extra_memberships[0], extra_memberships[1], size=n)
    # Gumbel top-k: the first m keys of each row are m draws without
    # replacement with probability proportional to the Zipf weights.
    logw = -zipf_s * np.log(np.arange(1, c + 1, dtype=np.float64))
    keys = logw[None, :] + rng.gumbel(size=(n, c))
    top = np.argsort(-keys, axis=1)[:, : int(n_memb.max())]
    node_idx = np.repeat(np.arange(n), n_memb)
    comm_idx = np.concatenate([top[u, : n_memb[u]] for u in range(n)])
    order = np.lexsort((node_idx, comm_idx))
    node_idx, comm_idx = node_idx[order], comm_idx[order]
    bounds = np.searchsorted(comm_idx, np.arange(c + 1))

    ids = rng.permutation(n).astype(np.int64) + 1
    pairs = []
    members_by_comm = []
    for ci in range(c):
        members = node_idx[bounds[ci] : bounds[ci + 1]]
        if len(members) < 2:
            continue
        members_by_comm.append(np.sort(ids[members]))
        path = rng.permutation(members)
        pairs.append(np.stack([path[:-1], path[1:]], axis=1))
        n_extra = rng.poisson(len(members) * deg_in / 2.0)
        if n_extra:
            pick = rng.integers(0, len(members), size=(n_extra, 2))
            pairs.append(members[pick])
    intra = np.concatenate(pairs)
    n_bg = int(round(bg_frac * len(intra)))
    bg = rng.integers(0, n, size=(n_bg, 2))
    all_pairs = ids[np.concatenate([intra, bg])]
    lo = np.minimum(all_pairs[:, 0], all_pairs[:, 1])
    hi = np.maximum(all_pairs[:, 0], all_pairs[:, 1])
    keep = lo != hi
    code = np.unique(lo[keep] * (n + 1) + hi[keep])
    edges = np.stack([code // (n + 1), code % (n + 1)], axis=1).astype(np.int64)
    return AgmGraph(n_nodes=n, edges=edges, communities=members_by_comm)


def edge_list_text(edges: np.ndarray, name: str, seed: int, n_nodes: int) -> str:
    """The reference's SNAP-style format: ``#`` header, then one
    ``src<TAB>dst`` line per undirected edge."""
    head = HEADER.format(name=name, seed=seed, nodes=n_nodes, edges=len(edges))
    body = "\n".join(f"{u}\t{v}" for u, v in edges.tolist())
    return head + body + "\n"


def write_edge_list(path: str, edges: np.ndarray, name: str, seed: int, n_nodes: int) -> None:
    with open(path, "w", encoding="ascii", newline="\n") as fh:
        fh.write(edge_list_text(edges, name, seed, n_nodes))


@dataclass
class HeldOut:
    """A fit graph with ``1/every`` of the nodes removed, plus the
    removed nodes' edges to the remaining ones (the fold-in queries)."""

    model_edges: np.ndarray  # (E, 2), both endpoints kept
    held: np.ndarray  # held-out node ids, in serving order
    cross: np.ndarray  # (X, 2) directed (held, kept) pairs


def hold_out(graph: AgmGraph, seed: int, every: int = 20) -> HeldOut:
    rng = np.random.default_rng([seed, every])
    verts = graph.vertex_ids()
    held = rng.choice(verts, size=len(verts) // every, replace=False)
    is_held = np.zeros(graph.n_nodes + 1, dtype=bool)
    is_held[held] = True
    u, v = graph.edges[:, 0], graph.edges[:, 1]
    hu, hv = is_held[u], is_held[v]
    model = graph.edges[~hu & ~hv]
    cross = np.concatenate(
        [np.stack([u[hu & ~hv], v[hu & ~hv]], 1), np.stack([v[hv & ~hu], u[hv & ~hu]], 1)]
    )
    cross = cross[np.lexsort((cross[:, 1], cross[:, 0]))]
    return HeldOut(model_edges=model, held=held, cross=cross)
