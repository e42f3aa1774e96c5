"""The benchmark workloads: set-up, the timed job, and its checks.

Every call into the engine goes through ``ctx.tracer.span(<module>.<fn>)``
so a traced run can split a job's wall time by layer. A job returns its
outputs; ``check`` compares them with the references computed during
set-up and returns the list of mismatches (empty when correct).
"""

from __future__ import annotations

import gc
import os
import shutil
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

import numpy as np
from pyspark.sql import functions as F

from cugraph_spark import datagen, ingest, store
from cugraph_spark.checkpoint import CheckpointManager
from cugraph_spark.graph import LinkGraph
from cugraph_spark.operators import (
    label_propagation,
    pagerank,
    total_triangles,
    weakly_connected_components,
)

import reference
from tracing import MB, Tracer, median, quantile

EDGE_FACTOR = 16
TOL = 1e-6
LPA_ITERS = 2
TOP_K = 100


def dir_mb(path: str) -> float:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total / MB


def spark_edge_checksum(edges) -> tuple[int, int]:
    """(rows, checksum) of an int edge frame; same expression as
    ``reference.edge_checksum``."""
    h = F.pmod(F.col("src") * F.lit(2654435761) + F.col("dst") * F.lit(40503), F.lit(2147483647))
    row = edges.agg(F.count("*"), F.sum(h)).first()
    return int(row[0]), int(row[1] or 0)


@dataclass
class Ctx:
    spark: object
    tracer: Tracer
    rundir: str
    scale: int
    seed: int
    corrupt_reference: bool = False
    ref: dict = field(default_factory=dict)
    setup_parts: dict = field(default_factory=dict)

    @property
    def warehouse(self) -> str:
        return os.path.join(self.rundir, "warehouse")

    @property
    def ckpt_dir(self) -> str:
        return os.path.join(self.rundir, "checkpoints")


class RecordingCheckpoints(CheckpointManager):
    """Checkpoint manager that times each save and, when tracing, reads the
    manifest's write time and the bytes the save left on disk."""

    def __init__(self, ctx: Ctx, job_name: str):
        super().__init__(ctx.ckpt_dir, job_name)
        self.tracer = ctx.tracer
        self.created = time.perf_counter()
        self.saves: list = []  # (start, end, write_sec, mb)
        self.iterations: list = []

    def save(self, df, iteration: int, metrics: dict) -> None:
        t0 = time.perf_counter()
        with self.tracer.span("checkpoint.save"):
            super().save(df, iteration, metrics)
        t1 = time.perf_counter()
        write_s = mb = 0.0
        if self.tracer.enabled:
            write_s = self.manifest(iteration)["timings"]["write_sec"]
            mb = dir_mb(self._iter_dir(iteration))
        self.saves.append((t0, t1, write_s, mb))
        self.iterations.append(iteration)

    def superstep_secs(self) -> list:
        """Wall time between consecutive saves, i.e. one superstep each."""
        out, prev = [], self.created
        for t0, t1, _w, _mb in self.saves:
            out.append(t0 - prev)
            prev = t1
        return out


# per-layer metric -> the span whose duration it reports
SPAN_METRICS = {
    "ingest.pages_to_edges_s": "ingest.pages_to_edges",
    "ingest.extract_text_s": "ingest.extract_text",
    "graph.from_edges_s": "graph.from_edges",
    "graph.unrenumber_s": "graph.unrenumber",
    "store.save_graph_s": "store.save_graph",
    "store.load_graph_s": "store.load_graph",
    "operators.pagerank.s": "operators.pagerank",
    "operators.wcc.s": "operators.wcc",
    "operators.lpa.s": "operators.lpa",
    "operators.triangles.s": "operators.triangles",
}
# per-layer metric -> unit, for the values ``Workload.stats`` reports
STAT_METRICS = {
    "ingest.pages": "count",
    "ingest.hrefs": "count",
    "ingest.html_mb": "MB",
    "graph.edges_in": "count",
    "graph.edges": "count",
    "graph.vertices": "count",
    "graph.dedup_ratio": "frac",
    "store.saved_mb": "MB",
    "operators.pagerank.iterations": "count",
    "operators.pagerank.first_superstep_s": "s",
    "operators.pagerank.superstep_p50_s": "s",
    "operators.pagerank.superstep_p90_s": "s",
    "checkpoint.saves": "count",
    "checkpoint.save_s": "s",
    "checkpoint.write_s": "s",
    "checkpoint.lineage_s": "s",
    "checkpoint.mb": "MB",
    "operators.wcc.iterations": "count",
    "operators.lpa.iterations": "count",
    "operators.triangles.count": "count",
}


def _rmat(ctx: Ctx, path: str) -> None:
    n = 1 << ctx.scale
    datagen.rmat_edges(ctx.spark, ctx.scale, EDGE_FACTOR * n, seed=ctx.seed).write.parquet(path)


def timed(fn) -> float:
    t0 = time.perf_counter()
    fn()
    return time.perf_counter() - t0


class Workload:
    name = ""
    pages = False  # whether set-up also renders the page table
    saved_graph = ""  # the stored graph whose PageRank the job runs
    checkpoints = False  # whether the job's operators checkpoint

    def generate(self, ctx: Ctx, reps: int) -> None:
        """Generate the R-MAT edges ``reps`` times (each into a fresh
        directory) and keep the median time; the last copy is the input.
        The page table, when the workload has one, is rendered once."""
        rmat_s = []
        for i in range(reps):
            self.rmat_path = os.path.join(ctx.rundir, "input", f"rmat{i}.parquet")
            rmat_s.append(timed(lambda: _rmat(ctx, self.rmat_path)))
        ctx.setup_parts["datagen.rmat_s"] = float(np.median(rmat_s))
        ctx.setup_parts["datagen.pages_s"] = 0.0
        if self.pages:
            self.pages_path = os.path.join(ctx.rundir, "input", "pages.parquet")
            edges = ctx.spark.read.parquet(self.rmat_path)
            ctx.setup_parts["datagen.pages_s"] = timed(
                lambda: datagen.pages_from_edges(ctx.spark, edges).write.parquet(self.pages_path)
            )

    def build(self, ctx: Ctx) -> None:
        """Set-up work after generation (e.g. saving the graphs the job reloads)."""

    def load_reference(self, ctx: Ctx) -> None:
        pdf = ctx.spark.read.parquet(self.rmat_path).toPandas()
        self.src = pdf["src"].to_numpy(np.int64)
        self.dst = pdf["dst"].to_numpy(np.int64)
        self.reference(ctx)

    def reference(self, ctx: Ctx) -> None:
        raise NotImplementedError

    def warm_up(self, ctx: Ctx) -> None:
        """Untimed work before the measured loop: one whole job, then one
        more PageRank on the graph the job saved or reloaded. After the whole
        job alone, the next job still ran JIT compilation, most of it inside
        PageRank: on ``iterate_checkpointed`` it took 55 CPU-seconds against
        35 for the job after it, which kept all four cores busy, so its wall
        time followed the host's load. The extra PageRank halved the spread
        of ``crawl_pagerank``'s ``job_s`` over five seeds run alternately
        with and without it (0.06 against 0.13)."""
        self.job(ctx, -1)
        self.cleanup(ctx)
        g = store.load_graph(ctx.spark, self.saved_graph)
        ckpt = RecordingCheckpoints(ctx, "pagerank-warm") if self.checkpoints else None
        pagerank(g, tol=TOL, checkpointer=ckpt).ranks.toPandas()
        self.cleanup(ctx)

    def job(self, ctx: Ctx, rep: int) -> dict:
        """One timed job; returns what ``check`` needs."""
        raise NotImplementedError

    def check(self, ctx: Ctx, out: dict) -> list:
        raise NotImplementedError

    def job_metrics(self, out: dict) -> dict:
        """The job's PageRank throughput and iterations, and the median
        superstep pooled over PageRank (``iter_secs``) and the WCC/LPA
        supersteps timed between their checkpoint saves."""
        pr = out["pr"]
        steps = list(pr.iter_secs)
        for op, c in out.get("ckpt", {}).items():
            if op != "pagerank":
                steps += c.superstep_secs()
        return {
            "pagerank_edges_per_s": out["counts"]["graph.edges"] * pr.iterations / out["pr_s"],
            "pagerank_iterations": pr.iterations,
            "superstep_p50_s": median(steps),
        }

    def stats(self, out: dict) -> dict:
        """Per-layer counts of one traced job (keys of ``STAT_METRICS``)."""
        secs = out["pr"].iter_secs
        st = dict(
            out["counts"],
            **{
                "operators.pagerank.iterations": out["pr"].iterations,
                "operators.pagerank.first_superstep_s": secs[0],
                "operators.pagerank.superstep_p50_s": median(secs),
                "operators.pagerank.superstep_p90_s": quantile(secs, 0.9),
            },
        )
        if "ckpt" in out:
            st.update(checkpoint_summary(out["ckpt"]))
            for op in ("wcc", "lpa"):
                st[f"operators.{op}.iterations"] = len(out["ckpt"][op].saves)
        return st

    def stored_mb(self, ctx: Ctx) -> float:
        return dir_mb(ctx.warehouse) + dir_mb(ctx.ckpt_dir)

    def cleanup(self, ctx: Ctx) -> None:
        """Drop what the job cached or checkpointed, then collect garbage in
        Python and the JVM so every job starts from the same heap state (a
        JVM GC also lets Spark's cleaner remove the job's shuffle files)."""
        ctx.spark.catalog.clearCache()
        shutil.rmtree(ctx.ckpt_dir, ignore_errors=True)
        gc.collect()
        ctx.spark.sparkContext._jvm.System.gc()


def _check_pagerank(iterations: int, ranks: dict, ref: dict) -> list:
    """Ranks within the L1 distance the stop rule allows of the reference
    fixed point, reached within one iteration of the reference's count."""
    bad = []
    if abs(iterations - ref["iterations"]) > 1:
        bad.append(f"pagerank: {iterations} iterations, reference {ref['iterations']}")
    if set(ranks) - set(ref["ranks"]):
        return bad + ["pagerank: vertices missing from the reference"]
    l1 = sum(abs(r - ref["ranks"][v]) for v, r in ranks.items())
    bound = reference.pagerank_error_bound(TOL)
    if l1 > bound:
        bad.append(f"pagerank: L1 {l1:.3g} from the reference > {bound:.3g}")
    return bad


class CrawlPageRank(Workload):
    """Pages -> hrefs -> int edges -> graph -> store -> PageRank -> top 100."""

    name = "crawl_pagerank"
    pages = True
    saved_graph = "crawl"

    def reference(self, ctx: Ctx) -> None:
        us, ud = reference.unique_edges(self.src, self.dst)
        ranks, iters = reference.pagerank(self.src, self.dst, TOL)
        top = sorted(ranks.values(), reverse=True)[:TOP_K]
        if ctx.corrupt_reference:
            top[0] *= 1.5
        ctx.ref = {
            "hrefs": (len(self.src), reference.edge_checksum(self.src, self.dst)),
            "edges": (len(us), reference.edge_checksum(us, ud)),
            "vertices": len(reference.vertices(self.src, self.dst)),
            "ranks": ranks,
            "top": top,
            "iterations": iters,
        }

    def job(self, ctx: Ctx, rep: int) -> dict:
        sp, tr = ctx.spark, ctx.tracer
        with tr.span("ingest.pages_to_edges"):
            pages = ingest.read_pages(sp, self.pages_path)
            edges = ingest.url_edges_to_int(ingest.pages_to_edges(pages)).persist()
            hrefs = edges.count()
        with tr.span("ingest.extract_text"):
            n_pages, html_bytes, text_diff = pages.select(
                F.count("*"),
                F.sum(F.length("html")),
                F.sum((ingest.extract_text(F.col("html")) != F.col("text")).cast("int")),
            ).first()
        with tr.span("graph.from_edges"):
            g = LinkGraph.from_edges(edges, directed=True)
            n_edges, n_verts = g.number_of_edges(), g.number_of_vertices()
        with tr.span("store.save_graph"):
            store.save_graph(g, "crawl", mode="overwrite")
        saved_mb = dir_mb(ctx.warehouse) if tr.enabled else 0.0
        with tr.span("operators.pagerank"):
            t0 = time.perf_counter()
            res = pagerank(g, tol=TOL, unrenumber=False)
            pr_s = time.perf_counter() - t0
        with tr.span("graph.unrenumber"):
            top = (
                g.unrenumber(res.ranks, "vertex")
                .orderBy(F.desc("pagerank"))
                .limit(TOP_K)
                .collect()
            )
        return {
            "edges_df": edges,
            "graph": g,
            "pr": res,
            "pr_s": pr_s,
            "top": [(int(r["vertex"]), float(r["pagerank"])) for r in top],
            "counts": {
                "ingest.pages": n_pages,
                "ingest.hrefs": hrefs,
                "ingest.html_mb": (html_bytes or 0) / MB,
                "graph.edges_in": hrefs,
                "graph.edges": n_edges,
                "graph.vertices": n_verts,
                "graph.dedup_ratio": n_edges / hrefs if hrefs else 0.0,
                "store.saved_mb": saved_mb,
            },
            "text_diff": text_diff,
        }

    def check(self, ctx: Ctx, out: dict) -> list:
        ref, bad = ctx.ref, []
        if out["counts"]["ingest.pages"] != ref["vertices"]:
            bad.append("ingest: one page per vertex expected")
        if out["text_diff"]:
            bad.append(f"ingest: extract_text differs on {out['text_diff']} pages")
        if spark_edge_checksum(out["edges_df"]) != ref["hrefs"]:
            bad.append("ingest: href multiset differs from the generated edges")
        g = out["graph"]
        gm = g.renumber_map.toPandas()
        ge = g.edges.select("src", "dst").toPandas()
        ext = dict(zip(gm["id"], gm["ext_id"]))
        src = ge["src"].map(ext).to_numpy(np.int64)
        dst = ge["dst"].map(ext).to_numpy(np.int64)
        if (len(src), reference.edge_checksum(src, dst)) != ref["edges"]:
            bad.append("graph: edge set differs from the deduplicated generated edges")
        if g.number_of_vertices() != ref["vertices"]:
            bad.append("graph: vertex count differs")
        bad += _check_pagerank(out["pr"].iterations, dict(out["top"]), ref)
        got = sorted((r for _v, r in out["top"]), reverse=True)
        diff = np.abs(np.array(got) - np.array(ref["top"]))
        if len(got) != len(ref["top"]) or diff.max() > reference.pagerank_error_bound(TOL):
            bad.append("pagerank: top-100 ranks differ from the reference top-100")
        return bad


class IterateCheckpointed(Workload):
    """Reload the directed and the undirected graph saved during set-up; run
    PageRank on the first, WCC and LPA on the second, each checkpointing
    every superstep, then count the second's triangles."""

    name = "iterate_checkpointed"
    saved_graph = "iter"
    checkpoints = True

    def build(self, ctx: Ctx) -> None:
        """Build and save both graphs. The two builds run at once: in a cold
        JVM neither fills the four cores, and overlapping them shortens
        set-up by about 2 s of the 11 s they take one after the other."""

        def build_one(name: str, directed: bool) -> None:
            g = LinkGraph.from_edges(ctx.spark.read.parquet(self.rmat_path), directed=directed)
            store.save_graph(g, name)
            g.unpersist()

        with ThreadPoolExecutor(2) as pool:
            builds = [pool.submit(build_one, "iter", True), pool.submit(build_one, "iter_u", False)]
            for b in builds:
                b.result()

    def reference(self, ctx: Ctx) -> None:
        ranks, iters = reference.pagerank(self.src, self.dst, TOL)
        wcc = reference.wcc_labels(self.src, self.dst)
        triangles = reference.triangle_total(self.src, self.dst)
        if ctx.corrupt_reference:
            triangles += 1
        ctx.ref = {"ranks": ranks, "iterations": iters, "wcc": wcc, "triangles": triangles}

    def job(self, ctx: Ctx, rep: int) -> dict:
        sp, tr = ctx.spark, ctx.tracer
        ck = {}
        with tr.span("store.load_graph"):
            g = store.load_graph(sp, "iter")
            u = store.load_graph(sp, "iter_u")
            n_edges, n_verts = g.number_of_edges(), g.number_of_vertices()
            u.number_of_edges()
        with tr.span("operators.pagerank"):
            ck["pagerank"] = RecordingCheckpoints(ctx, f"pagerank-{rep}")
            t0 = time.perf_counter()
            res = pagerank(g, tol=TOL, checkpointer=ck["pagerank"])
            pr_s = time.perf_counter() - t0
            ranks = res.ranks.toPandas()
        with tr.span("operators.wcc"):
            ck["wcc"] = RecordingCheckpoints(ctx, f"wcc-{rep}")
            wcc = weakly_connected_components(u, checkpointer=ck["wcc"]).toPandas()
        with tr.span("operators.lpa"):
            ck["lpa"] = RecordingCheckpoints(ctx, f"lpa-{rep}")
            lpa = label_propagation(u, max_iter=LPA_ITERS, checkpointer=ck["lpa"]).toPandas()
        with tr.span("operators.triangles"):
            triangles = total_triangles(u)
        return {
            "pr": res,
            "pr_s": pr_s,
            "ranks": dict(zip(ranks["vertex"].tolist(), ranks["pagerank"].tolist())),
            "wcc": dict(zip(wcc["vertex"].tolist(), wcc["labels"].tolist())),
            "lpa": lpa,
            "triangles": triangles,
            "ckpt": ck,
            "counts": {
                "graph.edges": n_edges,
                "graph.vertices": n_verts,
                "operators.triangles.count": triangles,
            },
        }

    def check(self, ctx: Ctx, out: dict) -> list:
        ref = ctx.ref
        ranks = out["ranks"]
        bad = [] if set(ranks) == set(ref["ranks"]) else ["pagerank: vertex set differs"]
        bad += _check_pagerank(out["pr"].iterations, ranks, ref)
        if out["wcc"] != ref["wcc"]:
            bad.append("wcc: components differ from the reference")
        lpa = out["lpa"]
        verts = set(ref["wcc"])
        if len(lpa) != len(verts) or set(lpa["vertex"]) != verts:
            bad.append("lpa: output does not cover every vertex exactly once")
        elif not set(lpa["label"]) <= verts:
            bad.append("lpa: a label is not a vertex id")
        else:
            smallest = lpa.groupby("label")["vertex"].min()
            if (smallest.index != smallest.to_numpy()).any():
                bad.append("lpa: a label is not the smallest member of its class")
        if out["triangles"] != ref["triangles"]:
            bad.append(f"triangles: {out['triangles']} != reference {ref['triangles']}")
        for op, c in out["ckpt"].items():
            done = c.completed_iterations()
            if not done or done[-1] != c.iterations[-1]:
                bad.append(f"checkpoint: {op} has no manifest for its last superstep")
            elif c.manifest(done[-1])["lineage"]["total_rows"] != len(verts):
                bad.append(f"checkpoint: {op} manifest row count differs from V")
        return bad


WORKLOADS = {w.name: w for w in (CrawlPageRank, IterateCheckpointed)}


def checkpoint_summary(ckpts: dict) -> dict:
    saves = [s for c in ckpts.values() for s in c.saves]
    save_s = sum(t1 - t0 for t0, t1, _w, _mb in saves)
    write_s = sum(w for _t0, _t1, w, _mb in saves)
    return {
        "checkpoint.saves": len(saves),
        "checkpoint.save_s": save_s,
        "checkpoint.write_s": write_s,
        "checkpoint.lineage_s": save_s - write_s,
        "checkpoint.mb": sum(mb for *_x, mb in saves),
    }
