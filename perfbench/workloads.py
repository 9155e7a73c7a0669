"""The workloads: inputs from a seed, one timed repetition, its checks.

Every repetition goes from an edge-list path to extracted communities
(``wall_s``), then serves held-out nodes against the model it just fit
with closed-loop ``fold_in_long`` batches from one client. The held-out
nodes (1 in 20) never enter the fit graph.
"""

from __future__ import annotations

import math
import os
import shutil
import time
from contextlib import nullcontext
from dataclasses import dataclass, field, replace

import numpy as np

import agm
from quality import best_match_f1


@dataclass(frozen=True)
class Spec:
    name: str
    n_nodes: int
    n_comms: int
    k: int
    max_iter: int
    layout: str  # "dense": bigclam_pipeline; "long": bigclam_fit_long


SPECS = {
    s.name: s
    for s in [
        Spec("fit_dense", n_nodes=2400, n_comms=12, k=16, max_iter=1, layout="dense"),
        Spec("fit_long_serve", n_nodes=2000, n_comms=160, k=256, max_iter=1, layout="long"),
    ]
}

WARMUP_NODES = 400
HOLD_EVERY = 20
BATCH_SIZE = 40
MIN_BATCHES = 8


@dataclass
class Inputs:
    edge_path: str
    n_model_edges: int
    vertices: np.ndarray  # vertices of the fit graph
    truth: list[np.ndarray]
    held: np.ndarray
    cross: np.ndarray  # (held, kept) pairs


def _save_ragged(path: str, sets: list[np.ndarray]) -> None:
    np.savez(path, flat=np.concatenate(sets), offsets=np.cumsum([0] + [len(s) for s in sets]))


def _load_ragged(path: str) -> list[np.ndarray]:
    z = np.load(path)
    flat, off = z["flat"], z["offsets"]
    return [flat[off[i] : off[i + 1]] for i in range(len(off) - 1)]


def prepare(spec: Spec, seed: int, work: str) -> Inputs:
    """Generate (or reuse) the seed's inputs under ``work/inputs``."""
    d = os.path.join(work, "inputs", f"{spec.name}-{spec.n_nodes}-{spec.n_comms}-{seed}")
    edge_path = os.path.join(d, "edges.txt")
    if not os.path.exists(os.path.join(d, "done")):
        os.makedirs(d, exist_ok=True)
        g = agm.generate(seed, spec.n_nodes, spec.n_comms)
        h = agm.hold_out(g, seed, HOLD_EVERY)
        agm.write_edge_list(edge_path, h.model_edges, spec.name, seed, spec.n_nodes)
        np.savez(os.path.join(d, "graph.npz"), model_edges=h.model_edges, held=h.held, cross=h.cross)
        _save_ragged(os.path.join(d, "truth.npz"), g.communities)
        open(os.path.join(d, "done"), "w").close()
    z = np.load(os.path.join(d, "graph.npz"))
    return Inputs(
        edge_path=edge_path,
        n_model_edges=len(z["model_edges"]),
        vertices=np.unique(z["model_edges"]),
        truth=_load_ragged(os.path.join(d, "truth.npz")),
        held=z["held"],
        cross=z["cross"],
    )


def warmup_inputs(spec: Spec, work: str) -> Inputs:
    """A small graph of the same shape (fixed seed 0) for the set-up's
    warm-up job."""
    small = replace(
        spec, n_nodes=WARMUP_NODES, n_comms=max(4, spec.n_comms * WARMUP_NODES // spec.n_nodes)
    )
    return prepare(small, 0, work)


class FitProbe:
    """Times every call of the two fit entry points and keeps the
    symmetrized edges they were given. Installed for every repetition
    (one clock read per fit call), traced or not."""

    def __init__(self):
        self.fit_s = 0.0
        self.sym = None
        self._saved = []

    def install(self) -> None:
        from bigclam_apachespark_spark.operators import bigclam as B
        from bigclam_apachespark_spark.operators import bigclam_long as BL

        for mod, name in ((B, "bigclam_fit"), (BL, "bigclam_fit_long")):
            orig = getattr(mod, name)
            self._saved.append((mod, name, orig))
            setattr(mod, name, self._timed(orig))

    def _timed(self, fn):
        def wrapper(sym_edges, *args, **kwargs):
            self.sym = sym_edges
            t0 = time.perf_counter()
            try:
                return fn(sym_edges, *args, **kwargs)
            finally:
                self.fit_s += time.perf_counter() - t0

        return wrapper

    def uninstall(self) -> None:
        while self._saved:
            mod, name, orig = self._saved.pop()
            setattr(mod, name, orig)


@dataclass
class Rep:
    wall_s: float
    fit_s: float
    history: list[float]
    iterations: int
    communities: list[np.ndarray]
    serve_ms: list[float] = field(default_factory=list)
    served_nodes: int = 0
    checks: list[tuple[str, bool]] = field(default_factory=list)
    f1: float = 0.0
    nll_per_edge: float = 0.0
    nnz_long: int = 0
    sink_bytes: int = 0
    counts: dict = field(default_factory=dict)  # traced repetitions only


def _fit_and_extract(spark, spec: Spec, inp: Inputs, out_dir: str):
    """The timed part: edge-list path → extracted communities."""
    from pyspark.sql import functions as F

    from bigclam_apachespark_spark.operators import bigclam as B
    from bigclam_apachespark_spark.operators import bigclam_long as BL
    from bigclam_apachespark_spark.operators import graph as G
    from bigclam_apachespark_spark.sources import edgelist as EL

    if spec.layout == "dense":
        inv, res = B.bigclam_pipeline(
            spark, inp.edge_path, k=spec.k, tol=0.0, max_iter=spec.max_iter, out_path=out_dir
        )
        return res, res.factors, inv.collect()
    sym = G.symmetrize(EL.read_edge_list(spark, inp.edge_path)).cache()
    res = BL.bigclam_fit_long(sym, k=spec.k, tol=0.0, max_iter=spec.max_iter)
    # The pipeline's extraction on the long layout: the same threshold
    # delta, then the same inversion.
    delta = B.extraction_threshold(G.vertices(sym).count(), sym.count() // 2)
    members = res.factors_long.where(F.col("val") >= delta).select(
        F.col("k").alias("community"), "node_id"
    )
    return res, res.factors_long, B.invert_communities(members).collect()


def serve_batch(inp: Inputs, b: int) -> np.ndarray:
    """Held-out node ids of batch ``b``, cycling through the held-out set."""
    idx = np.arange(b * BATCH_SIZE, (b + 1) * BATCH_SIZE) % len(inp.held)
    return inp.held[np.unique(idx)]


def run_rep(spark, spec: Spec, inp: Inputs, work: str, tracer=None, serve_until: float | None = 0.0) -> Rep:
    """One timed fit (``wall_s``), then closed-loop serving from one
    client: one untimed batch, at least ``MIN_BATCHES`` timed fold-in
    batches, and more while the next one should end before
    ``serve_until`` (a ``perf_counter`` time; ``None`` serves nothing);
    then the checks."""
    from pyspark.sql import functions as F

    from bigclam_apachespark_spark.functions.checkpointing import (
        release_fresh_checkpoint,
        unpersist_local_checkpoint,
    )
    from bigclam_apachespark_spark.operators import bigclam_long as BL

    out_dir = os.path.join(work, "sink", spec.name)
    shutil.rmtree(out_dir, ignore_errors=True)
    probe = FitProbe()
    probe.install()
    if tracer is not None:
        tracer.install(spark)
    try:
        t0 = time.perf_counter()
        with tracer.span("run") if tracer is not None else nullcontext():
            res, factors, rows = _fit_and_extract(spark, spec, inp, out_dir)
        rep = Rep(
            wall_s=time.perf_counter() - t0,
            fit_s=probe.fit_s,
            history=list(res.history),
            iterations=res.iterations,
            communities=[np.asarray(r["members"], dtype=np.int64) for r in rows],
        )

        # Serving: the frozen model in the long layout (dense factors are
        # exploded to their non-zero entries).
        if spec.layout == "dense":
            model = (
                factors.select("node_id", F.posexplode("f").alias("k", "val"))
                .where(F.col("val") != 0.0)
                .localCheckpoint(eager=True)
            )
        else:
            model = factors
        sumf = BL.sum_f_long(model).cache()
        model_nodes = np.array([r["node_id"] for r in model.select("node_id").distinct().collect()])
        in_model = np.isin(inp.cross[:, 1], model_nodes)
        serve_ok = []
        with tracer.span("serve") if tracer is not None else nullcontext():
            b = 0
            while serve_until is not None and (
                b <= MIN_BATCHES or time.perf_counter() + rep.serve_ms[-1] / 1000.0 < serve_until
            ):
                batch = serve_batch(inp, b)
                sel = np.isin(inp.cross[:, 0], batch)
                pairs = [(int(u), int(v)) for u, v in inp.cross[sel].tolist()]
                held, counts = np.unique(inp.cross[sel & in_model, 0], return_counts=True)
                t1 = time.perf_counter()
                cross_df = spark.createDataFrame(pairs, "src long, dst long")
                got = BL.fold_in_long(cross_df, model, sumf).collect()
                if b > 0:  # batch 0 warms the fold-in plans and is not timed
                    rep.serve_ms.append((time.perf_counter() - t1) * 1000.0)
                    rep.served_nodes += len(batch)
                serve_ok.append(
                    {r["node_id"]: r["n_model_nbrs"] for r in got} == dict(zip(held.tolist(), counts.tolist()))
                )
                b += 1
        if tracer is not None:
            tracer.uninstall()
            rep.counts = {
                "edgelist.rows": tracer.outputs["edgelist.read_edge_list"].count(),
                "graph.seeds": tracer.outputs["graph.local_min_seeds"].count(),
            }

        history, checks = rep.history, rep.checks
        checks.append(("symmetrized rows == 2 x generated edges", probe.sym.count() == 2 * inp.n_model_edges))
        checks.append(("llh finite", all(math.isfinite(x) for x in history)))
        checks.append(("llh rises first -> last", len(history) > 1 and history[-1] > history[0]))
        # A fit that stops early on n_updated == 0 records fewer LLH values.
        checks.append(("full iteration budget", res.iterations == spec.max_iter and len(history) == spec.max_iter + 1))
        found = np.concatenate(rep.communities) if rep.communities else np.array([], dtype=np.int64)
        checks.append(("communities non-empty", len(found) > 0))
        checks.append(("members are real vertices", bool(np.isin(found, inp.vertices).all())))
        checks += [("fold-in batch returns the model-neighbored held-out nodes", ok) for ok in serve_ok]
        rep.f1 = best_match_f1(inp.truth, rep.communities, inp.vertices)
        rep.nll_per_edge = -history[-1] / (2 * inp.n_model_edges)
        if spec.layout == "dense":
            rep.sink_bytes = sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(out_dir) for f in fs)
            unpersist_local_checkpoint(model)
        else:
            rep.nnz_long = model.count()
        sumf.unpersist()
        release_fresh_checkpoint(factors)
        return rep
    finally:
        if tracer is not None:
            tracer.uninstall()
        probe.uninstall()
        spark.catalog.clearCache()
        shutil.rmtree(out_dir, ignore_errors=True)


def warmup(spark, inp: Inputs) -> None:
    """The set-up's warm-up job: scan and symmetrize an edge list."""
    from bigclam_apachespark_spark.operators import graph as G
    from bigclam_apachespark_spark.sources import edgelist as EL

    G.symmetrize(EL.read_edge_list(spark, inp.edge_path)).count()
