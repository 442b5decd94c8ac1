"""The two workloads. Each one builds its inputs from the seed in
``setup``, does its work in ``run_pass``, and checks every pass's outputs
in ``check``, outside the timed section; ``rates`` and ``extras`` run after
``check``. Spans name the package's modules (``kernels.pagerank``,
``operators.sssp.shortest_path``, ...) and wrap the public calls only; a
call's output is forced (collected) inside its span, so lazy work that
the call leaves behind is timed with it. The benchmark changes nothing
inside the package.

Each workload has a main stage and a build stage, and reports a rate for
each: ``web_kernels`` ingests crawled pages into an encoded edge list,
then runs the four kernels on a hub-skewed graph; ``road_queries`` answers
point queries on a node-weighted grid, then builds a UBODT (the
dense-frontier form of the same fixpoint core) on a unit-length grid."""

from __future__ import annotations

import math
import os
import random
import shutil
import statistics
from dataclasses import dataclass, field

import numpy as np

from . import oracles

# Sizes. Each is cut so that a whole run, including the JVM start, takes
# about a minute at local[4].
WEB_VERTICES, WEB_EDGES = 20_000, 80_000
WEB_PR_ITERS, WEB_LPA_ITERS = 2, 2
# PageRank calls per timed pass. One call takes 2 to 3 s and its wall
# varies by about a tenth from call to call, so a single call left
# pagerank_edges_per_s with a quartile spread of 0.16 over ten seeds.
WEB_PR_CALLS = 3
CRAWL_PAGES = 5_000
ROAD_GRID = 16
ROAD_LENGTHS = (4, 5)
ROAD_CUTOFFS = {"sp": 11.0, "sps": 11.0, "zz": 6.0, "bind": 6.0}
UBODT_GRID, UBODT_THRESH = 96, 3
PR_TOL = 1e-6  # north-rule PageRank tolerance


@dataclass
class Ctx:
    spark: object
    tracer: object
    seed: int
    work_dir: str
    parts: int
    state: dict = field(default_factory=dict)


def _fresh_dir(ctx: Ctx, name: str) -> str:
    path = os.path.join(ctx.work_dir, name)
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


def _dir_mb(path: str) -> float:
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total / (1024.0 * 1024.0)


def _unpersist(ctx: Ctx, key: str) -> None:
    old = ctx.state.get(key)
    if old is not None:
        old.unpersist()


class Workload:
    name = ""
    rate_names = ("", "")  # names of (throughput_per_s, build_per_s) in the summary
    warmup_passes = 0  # untimed passes before the timed ones (still checked)

    def setup(self, ctx: Ctx) -> None:
        raise NotImplementedError

    def run_pass(self, ctx: Ctx, k: int) -> dict:
        raise NotImplementedError

    def check(self, ctx: Ctx, passes: list[dict]) -> list[tuple[str, bool]]:
        raise NotImplementedError

    def rates(self, ctx: Ctx, passes: list[dict]) -> tuple[float, float]:
        """(throughput_per_s, build_per_s): medians over the timed passes."""
        raise NotImplementedError

    def extras(self, ctx: Ctx, passes: list[dict]) -> dict:
        return {}


# ------------------------------------------------------------------ web
class WebKernels(Workload):
    """A long-lived session that ingests a crawl and runs the kernels.
    One untimed pass warms the JIT and the code-generation caches: in a
    fresh JVM the first pass is about 1.5 to 2.3 times as slow as the
    next one, and its time varies by half from run to run.

    The ingest stage (``pages_to_edges`` -> ``encode_edges``) reads a
    persisted ``synth_pages`` table; the kernels run on ``powerlaw_edges``
    for its hub skew, so an ingest change moves ``build_per_s`` and a
    kernel change ``throughput_per_s``."""

    name = "web_kernels"
    rate_names = ("pagerank_edges_per_s", "ingest_pages_per_s")
    warmup_passes = 1

    def setup(self, ctx):
        from networkx_graph_spark.sources.datagen import powerlaw_edges
        from networkx_graph_spark.sources.pages_synth import synth_pages

        _unpersist(ctx, "edges")
        with ctx.tracer.span("sources.datagen.powerlaw_edges"):
            edges = powerlaw_edges(ctx.spark, WEB_VERTICES, WEB_EDGES, seed=ctx.seed).persist()
            edges.count()
        path = os.path.join(ctx.work_dir, "pages.parquet")
        with ctx.tracer.span("sources.pages_synth.synth_pages"):
            synth_pages(ctx.spark, CRAWL_PAGES, seed=ctx.seed).write.mode("overwrite").parquet(path)
        ctx.state.update(edges=edges, pages_path=path)

    def _ingest(self, ctx):
        from networkx_graph_spark.sources.pages import encode_edges, pages_to_edges

        t = ctx.tracer
        pages = ctx.spark.read.parquet(ctx.state["pages_path"])
        with t.span("sources.pages.pages_to_edges") as s1:
            urls = pages_to_edges(pages).persist()
            url_edges = [(r["src_url"], r["dst_url"]) for r in urls.collect()]
        with t.span("sources.pages.encode_edges") as s2:
            edges, ids = encode_edges(urls)
            id_edges = [(r["src"], r["dst"]) for r in edges.collect()]
            names = {r["id"]: r["node"] for r in ids.collect()}
        urls.unpersist()
        return {"ingest_s": s1.s + s2.s, "url_edges": url_edges, "id_edges": id_edges,
                "names": names}

    def run_pass(self, ctx, k):
        from networkx_graph_spark.kernels.components import connected_components
        from networkx_graph_spark.kernels.lpa import label_propagation
        from networkx_graph_spark.kernels.pagerank import pagerank
        from networkx_graph_spark.kernels.triangles import triangle_count
        from networkx_graph_spark.plans.supersteps import SuperstepRunner

        out = self._ingest(ctx)
        edges, t = ctx.state["edges"], ctx.tracer
        prs = []
        for c in range(WEB_PR_CALLS if k >= self.warmup_passes else 1):
            ck = _fresh_dir(ctx, f"ckpt-{k}-{c}")
            runner = SuperstepRunner(ctx.spark, checkpoint_dir=ck, bucket_cols=["id"],
                                     bucket_count=ctx.parts)
            with t.span("kernels.pagerank") as sp_pr:
                pr = pagerank(edges, tol=0.0, max_iter=WEB_PR_ITERS, runner=runner)
                ranks = {r["id"]: r["rank"] for r in pr.state.collect()}
            prs.append({
                "s": sp_pr.s,
                "iters": pr.iterations,
                "superstep_s": statistics.median(m["wall_sec"] for m in pr.metrics),
                "checkpoint_mb": _dir_mb(ck),
                "checkpoints": sum(1 for _, dirs, _ in os.walk(ck) for d in dirs
                                   if d.startswith("iter=")),
                "ranks": ranks,
            })
        with t.span("kernels.components"):
            cc = connected_components(edges, algorithm="twophase")
            comp = {r["id"]: r["component"] for r in cc.state.collect()}
        with t.span("kernels.lpa"):
            lpa = label_propagation(edges, max_iter=WEB_LPA_ITERS)
            labels = {r["id"]: r["label"] for r in lpa.state.collect()}
        with t.span("kernels.triangles"):
            tri = triangle_count(edges)
        out.update({
            "pagerank": prs,
            "cc": comp,
            "lpa": labels,
            "triangles": tri,
        })
        return out

    def _check_ingest(self, ctx, passes):
        from pyspark.sql import functions as F

        from networkx_graph_spark.sources.pages import parse_pages
        from networkx_graph_spark.sources.pages_synth import expected_edges

        want = expected_edges(CRAWL_PAGES, seed=ctx.seed)
        pages = ctx.spark.read.parquet(ctx.state["pages_path"])
        parsed = parse_pages(pages).select("url", F.col("text").alias("got"))
        bad = (pages.join(parsed, "url", "left")
               .filter(F.col("got").isNull() | (F.col("got") != F.col("text"))).count())
        out = [("text", bad == 0)]
        for p in passes:
            urls = p["url_edges"]
            out.append(("edges", len(urls) == len(want) and set(urls) == want))
            names = p["names"]
            decoded = sorted((names[s], names[d]) for s, d in p["id_edges"])
            out.append(("encode", len(names) == len(set(names.values()))
                        and decoded == sorted(urls)))
        return out

    def check(self, ctx, passes):
        edf = ctx.state["edges"].toPandas()
        src, dst = edf["src"].to_numpy(), edf["dst"].to_numpy()
        ranks_ref = oracles.pagerank_np(src, dst, WEB_PR_ITERS)
        cc_ref = oracles.components_np(src, dst)
        tri_ref = oracles.triangles_py(src, dst)
        ctx.state["n_edges"] = len(np.unique(np.stack([src, dst], 1), axis=0))
        out = self._check_ingest(ctx, passes)
        for p in passes:
            for pr in p["pagerank"]:
                ranks = pr["ranks"]
                ok = ranks.keys() == ranks_ref.keys() and np.allclose(
                    [ranks[v] for v in ranks_ref], list(ranks_ref.values()), rtol=0.0, atol=PR_TOL)
                out.append(("pagerank", bool(ok)))
                out.append(("checkpoints", pr["checkpoints"] == pr["iters"]))
            out.append(("components", p["cc"] == cc_ref))
            labels = p["lpa"]
            out.append(("lpa", labels.keys() == cc_ref.keys()
                        and all(cc_ref[lab] == cc_ref[v] for v, lab in labels.items())))
            out.append(("triangles", p["triangles"] == tri_ref))
        return out

    def rates(self, ctx, passes):
        return (
            statistics.median(ctx.state["n_edges"] * pr["iters"] / pr["s"]
                              for p in passes for pr in p["pagerank"]),
            statistics.median(CRAWL_PAGES / p["ingest_s"] for p in passes),
        )

    def extras(self, ctx, passes):
        prs = [pr for p in passes for pr in p["pagerank"]]
        return {
            "kernels.pagerank.iters": statistics.median(pr["iters"] for pr in prs),
            "kernels.pagerank.superstep_wall_s": statistics.median(pr["superstep_s"] for pr in prs),
            "plans.supersteps.checkpoint_mb": statistics.median(pr["checkpoint_mb"] for pr in prs),
            "plans.supersteps.checkpoints": statistics.median(pr["checkpoints"] for pr in prs),
            "edges_distinct": ctx.state.get("n_edges"),
            "crawl_url_edges": len(passes[0]["url_edges"]),
        }


# ------------------------------------------------------------------ road
QUERY_SPANS = {
    "sp": "operators.sssp.shortest_path",
    "sps": "operators.sssp.shortest_paths",
    "zz": "operators.zigzag.shortest_zigzag_path",
    "bind": "operators.bindings.distance_to_bindings",
}


def _cell(x: int, y: int) -> str:
    return f"{x}_{y}"


def _unit_grid_edges(spark, w: int):
    """Both directions of every edge of a w x w 4-neighbour grid, ids
    0..w*w-1 in row-major order."""
    from pyspark.sql import functions as F

    base = spark.range(0, w * w)
    x, y = F.col("id") % w, F.floor(F.col("id") / w)
    right = base.filter(x < w - 1).select(F.col("id").alias("src"), (F.col("id") + 1).alias("dst"))
    down = base.filter(y < w - 1).select(F.col("id").alias("src"), (F.col("id") + w).alias("dst"))
    flip = [F.col("dst").alias("src"), F.col("src").alias("dst")]
    return right.unionByName(down).unionByName(right.select(*flip)).unionByName(down.select(*flip))


class RoadQueries(Workload):
    """Closed loop, one client: each query starts when the previous one
    has returned. A pass is one round of the four query types with seeded
    endpoints, then one UBODT build. Lengths, cutoffs and bindings are set
    so that every seed does the same amount of work: with lengths 4 or 5,
    a search of cutoff 11 always stops after three hops and one of cutoff
    6 after two, a zigzag of cutoff 6 admits exactly one flip, a point
    query's target is at most three hops away (two interior cells, at
    most 10), and every cell off the border is bound or has a bound
    neighbour, which a search of cutoff 6 always reaches. The UBODT grid
    has unit lengths and every vertex is a seed, so its size alone sets
    the work."""

    name = "road_queries"
    rate_names = ("queries_per_s", "ubodt_rows_per_s")

    def _inputs(self, seed: int):
        rng = random.Random(seed)
        n = ROAD_GRID
        length = {_cell(x, y): float(rng.randint(*ROAD_LENGTHS)) for y in range(n) for x in range(n)}
        succ = {c: [] for c in length}
        edges = []
        for y in range(n):
            for x in range(n):
                for dx, dy in ((1, 0), (-1, 0), (0, 1), (0, -1)):
                    if 0 <= x + dx < n and 0 <= y + dy < n:
                        succ[_cell(x, y)].append(_cell(x + dx, y + dy))
                        edges.append((_cell(x, y), _cell(x + dx, y + dy)))
        # bound cells form the lattice (x + 2y) % 5 == 0: every other cell
        # off the border has exactly one bound neighbour, so each search
        # meets a binding at the same depth on every seed; the intervals
        # are seeded
        bindings = {}
        for y in range(n):
            for x in range((-2 * y) % 5, n, 5):
                c = _cell(x, y)
                lo = float(rng.randint(0, int(length[c])))
                bindings[c] = [(lo, float(rng.randint(int(lo), int(length[c]))), c)]
        return length, succ, edges, bindings

    def setup(self, ctx):
        from networkx_graph_spark.graph import SparkDiGraph
        from networkx_graph_spark.operators.bindings import encode_bindings

        length, succ, edges, bindings = self._inputs(ctx.seed)
        _unpersist(ctx, "graph")
        _unpersist(ctx, "ubodt_graph")
        with ctx.tracer.span("graph.build"):
            g = SparkDiGraph.from_lists(ctx.spark, list(length.items()), edges)
            g.edges_w.count()
            g.edges_w_rev.count()
            ug = SparkDiGraph.from_edge_df(ctx.spark, _unit_grid_edges(ctx.spark, UBODT_GRID))
            ug.edges_w.count()
        ctx.state.update(graph=g, ubodt_graph=ug, length=length, succ=succ, bindings=bindings,
                         enc_bindings=encode_bindings(g, bindings))

    def _round(self, seed: int, k: int):
        rng = random.Random(f"{seed}/{k}")
        n = ROAD_GRID
        out = []
        # a fixed order: the first query of a fresh JVM pays for warming
        # the code paths it shares with the others
        for kind in QUERY_SPANS:
            x, y = rng.randrange(n), rng.randrange(n)
            if kind == "zz":
                # the zigzag search spreads over the whole grid at no cost,
                # so its superstep count is the source's eccentricity: keep
                # the source central for a comparable cost across seeds
                x, y = n // 2 - rng.randrange(2), n // 2 - rng.randrange(2)
            dx = rng.randint(-3, 3)
            dy = rng.choice([-1, 1]) * (3 - abs(dx))
            tx, ty = min(max(x + dx, 0), n - 1), min(max(y + dy, 0), n - 1)
            if (tx, ty) == (x, y):
                tx = x + 1 if x + 1 < n else x - 1
            out.append((kind, _cell(x, y), _cell(tx, ty)))
        return out

    def run_pass(self, ctx, k):
        from pyspark.sql import functions as F

        from networkx_graph_spark.operators.bindings import distance_to_bindings
        from networkx_graph_spark.operators.sssp import shortest_path, shortest_paths
        from networkx_graph_spark.operators.ubodt import build_ubodt
        from networkx_graph_spark.operators.zigzag import shortest_zigzag_path

        g, t = ctx.state["graph"], ctx.tracer
        results = []
        for kind, src, dst in self._round(ctx.seed, k):
            with t.span("graph.node_id"):
                g.node_id(src), g.node_id(dst)
            cutoff = ROAD_CUTOFFS[kind]
            with t.span(QUERY_SPANS[kind]) as sp:
                if kind == "sp":
                    r = shortest_path(g, src, dst, cutoff)
                    ans = None if r is None else r.dist
                elif kind == "sps":
                    ans = {row["node"]: row["dist"] for row in
                           shortest_paths(g, src, cutoff).dists_df().collect()}
                elif kind == "zz":
                    ans = shortest_zigzag_path(g, src, cutoff=cutoff).dists()
                else:
                    ans = distance_to_bindings(g, src, cutoff, ctx.state["enc_bindings"])
            results.append({"kind": kind, "src": src, "dst": dst, "s": sp.s, "ans": ans})
        with t.span("operators.ubodt.build_ubodt") as sp:
            row = build_ubodt(ctx.state["ubodt_graph"], float(UBODT_THRESH)).agg(
                F.count(F.lit(1)).alias("n"), F.sum("cost").alias("c")).collect()[0]
        return {"queries": results, "query_s": sum(q["s"] for q in results),
                "ubodt_rows": row["n"], "ubodt_cost": row["c"], "ubodt_s": sp.s}

    def _expected(self, ctx, kind, src, dst):
        length, succ, b = ctx.state["length"], ctx.state["succ"], ctx.state["bindings"]
        cutoff = ROAD_CUTOFFS[kind]
        if kind == "sp":
            return oracles.node_dijkstra(succ, length, src, cutoff).get(dst)
        if kind == "sps":
            d = oracles.node_dijkstra(succ, length, src, cutoff)
            d.pop(src, None)
            return d
        if kind == "zz":
            return oracles.zigzag_dijkstra(succ, succ, length, src, cutoff)
        # the grid is symmetric, so the reverse adjacency equals ``succ``;
        # node ids follow the order the nodes were passed to from_lists
        order = {c: i for i, c in enumerate(length)}
        return tuple(oracles.binding_distance(succ, length, order, b, src, cutoff, rev)
                     for rev in (True, False))

    def check(self, ctx, passes):
        g = ctx.state["graph"]
        rows, cost = oracles.ubodt_grid_rows(UBODT_GRID, UBODT_GRID, UBODT_THRESH)
        out = []
        for p in passes:
            for q in p["queries"]:
                exp = self._expected(ctx, q["kind"], q["src"], q["dst"])
                got = q["ans"]
                if q["kind"] == "sps":
                    got = {g.names_map[i]: d for i, d in got.items()}
                out.append((q["kind"], _same(got, exp)))
            out.append(("ubodt", p["ubodt_rows"] == rows and abs(p["ubodt_cost"] - cost) < 1e-6))
        return out

    def rates(self, ctx, passes):
        return (
            statistics.median(len(p["queries"]) / p["query_s"] for p in passes),
            statistics.median(p["ubodt_rows"] / p["ubodt_s"] for p in passes),
        )

    def extras(self, ctx, passes):
        # one sample of each query type per pass: the per-type figure is
        # a latency, not a percentile
        out = {f"{kind}_s": statistics.median(q["s"] for p in passes for q in p["queries"]
                                              if q["kind"] == kind)
               for kind in QUERY_SPANS}
        lat = sorted(q["s"] for p in passes for q in p["queries"])
        out["query_p50_s"] = statistics.median(lat)
        out["query_p75_s"] = lat[min(len(lat) - 1, math.ceil(0.75 * len(lat)) - 1)]
        out["query_samples"] = len(lat)
        out["ubodt_rows"] = passes[0]["ubodt_rows"]
        return out


def _same(got, exp) -> bool:
    if isinstance(exp, dict):
        return got.keys() == exp.keys() and all(_same(got[k], exp[k]) for k in exp)
    if isinstance(exp, tuple):
        return len(got) == len(exp) and all(_same(a, b) for a, b in zip(got, exp))
    if exp is None or got is None:
        return exp is None and got is None
    return abs(got - exp) <= 1e-9


WORKLOADS = {w.name: w for w in (WebKernels(), RoadQueries())}
