"""The benchmark's workloads: inputs from a seed, one timed pass, checks.

A workload builds its inputs in set-up (the library only ever sees the
generated tables), runs one pass of public library calls under
``Tracer`` spans, and checks every call's result against ``oracles``.
"""

from __future__ import annotations

import os
import time

import numpy as np
from pyspark.sql import functions as F

from gms_spark.graph.build import build_undirected, edges_from_pages, stage_edges
from gms_spark.graph.components import connected_components
from gms_spark.graph.generators import rmat_el
from gms_spark.graph.labelprop import label_propagation
from gms_spark.graph.pagerank import pagerank
from gms_spark.graph.triangles import triangle_count_total
from gms_spark.io.tableio import TableIO
from gms_spark.synth import synth_pages

import oracles

PR_RTOL = 1e-6


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs)


class TimedTableIO(TableIO):
    """TableIO that books the seconds and bytes of each write, read and
    lineage append, so ``tableio.*`` needs no tracing inside the library.
    ``read`` is lazy: its seconds cover listing and schema inference; the
    scan itself runs inside the consumer's jobs."""

    def __init__(self, root: str):
        super().__init__(root)
        self.stats = {"write_s": 0.0, "write_mb": 0.0, "read_s": 0.0, "read_mb": 0.0, "lineage_s": 0.0, "lineage_rows": 0}

    def write(self, df, table, snapshot, meta=None):
        t0 = time.perf_counter()
        try:
            return super().write(df, table, snapshot, meta)
        finally:
            self.stats["write_s"] += time.perf_counter() - t0
            self.stats["write_mb"] += _dir_bytes(self._sdir(table, snapshot)) / 1e6

    def read(self, spark, table, snapshot=None):
        t0 = time.perf_counter()
        try:
            df = super().read(spark, table, snapshot)
        finally:
            self.stats["read_s"] += time.perf_counter() - t0
        snap = self.last_committed(table) if snapshot is None else snapshot
        self.stats["read_mb"] += _dir_bytes(self._sdir(table, snap)) / 1e6
        return df

    def append_lineage(self, spark, rows):
        t0 = time.perf_counter()
        try:
            return super().append_lineage(spark, rows)
        finally:
            self.stats["lineage_s"] += time.perf_counter() - t0
            self.stats["lineage_rows"] += len(rows)


class Checks:
    """Counts attempted and failed operations; a failure keeps its reason."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []

    def check(self, op: str, ok: bool, detail: str = "") -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.failures.append(f"{op}: {detail}" if detail else op)


def _vertex_values(df, key: str, value: str) -> tuple[np.ndarray, np.ndarray]:
    pdf = df.select(key, value).toPandas().sort_values(key)
    return pdf[key].to_numpy(np.int64), pdf[value].to_numpy()


def _edges(df) -> tuple[np.ndarray, np.ndarray]:
    pdf = df.select("src", "dst").toPandas()
    return pdf["src"].to_numpy(np.int64), pdf["dst"].to_numpy(np.int64)


def check_pagerank(checks: Checks, op: str, res, expect) -> int:
    verts, scores = _vertex_values(res.scores, "vertex", "score")
    ev, es = expect
    ok = np.array_equal(verts, ev) and np.allclose(scores, es, rtol=PR_RTOL, atol=1e-12)
    checks.check(op, ok, "" if ok else f"{len(verts)} vertices vs {len(ev)}; scores differ beyond rtol {PR_RTOL}")
    return len(verts)


def check_labels(checks: Checks, op: str, df, col: str, expect) -> int:
    verts, labels = _vertex_values(df, "vertex", col)
    ok = np.array_equal(verts, expect[0]) and np.array_equal(labels.astype(np.int64), expect[1])
    checks.check(op, ok, "" if ok else f"{int((labels != expect[1]).sum()) if len(verts) == len(expect[0]) else 'vertex sets differ'} labels differ")
    return len(verts)


def check_edges(checks: Checks, op: str, df, expect_keys: np.ndarray) -> int:
    src, dst = _edges(df)
    ok = np.array_equal(oracles.edge_keys(src, dst), expect_keys)
    checks.check(op, ok, "" if ok else f"{len(src)} edges vs {len(expect_keys)} expected, or different pairs")
    return len(src)


class CrawlIngest:
    """Synthetic crawl -> pages table -> staged, undirected link graph.

    No kernel runs: a short pass lets one run fit enough passes for the JIT
    to settle on the pass's many distinct plans."""

    name = "crawl_ingest"
    warmup_passes = 5
    measured_passes = 7

    def __init__(self, seed: int, smoke: bool):
        self.seed = seed
        self.pages = 400 if smoke else 2_000

    def setup(self, spark, work: str) -> None:
        self.io = TimedTableIO(os.path.join(work, "tables"))
        self.io.write(synth_pages(spark, self.pages, seed=self.seed), "pages", 0)
        # extraction reads this snapshot; jobs whose plan scans it are "extract"
        self.extract_marker = self.io._sdir("pages", 0)

    def oracle(self, spark) -> None:
        self.url_id, src, dst = oracles.crawl_graph(self.pages, self.seed)
        self.edge_keys = oracles.edge_keys(src, dst)
        usrc, udst = oracles.undirect(src, dst)
        self.und_keys = oracles.edge_keys(usrc, udst)
        self.html_mb = spark.read.parquet(self.extract_marker).agg(F.sum(F.length("html"))).first()[0] / 1e6

    def job(self, spark, tr) -> dict:
        with tr.span("TableIO.read", "tableio"):
            pages = self.io.read(spark, "pages")
        with tr.span("edges_from_pages", "build"):
            url_dict, edges = edges_from_pages(pages)
        with tr.span("build_undirected", "build"):
            und = build_undirected(edges)
        with tr.span("stage_edges", "build"):
            und = stage_edges(und)
        return {"pages": pages, "url_dict": url_dict, "edges": edges, "und": und}

    def verify(self, res: dict, checks: Checks, spans: dict) -> dict:
        n = res["pages"].count()
        checks.check("TableIO.read", n == self.pages, f"{n} pages vs {self.pages}")
        spans["TableIO.read"]["rows_out"] = n
        ud = res["url_dict"].toPandas()
        got = dict(zip(ud["url"], ud["id"].astype(int)))
        checks.check("edges_from_pages.url_dict", got == self.url_id, "url dictionary differs")
        n_edges = check_edges(checks, "edges_from_pages.edges", res["edges"], self.edge_keys)
        spans["edges_from_pages"]["rows_out"] = n_edges
        m = check_edges(checks, "stage_edges", res["und"], self.und_keys)
        spans["stage_edges"]["rows_out"] = m
        return {
            "extract.pages": float(n),
            "extract.html_mb": self.html_mb,
            "build.urls": float(len(ud)),
            "build.edges": float(n_edges),
            "edges": float(m),
        }

class RmatKernels:
    """Skewed R-MAT graph -> PageRank(5), CC, LP(2), triangle count."""

    name = "rmat_kernels"
    pr_args = {"fixed_iters": 5}
    lp_iters = 2
    warmup_passes = 2
    measured_passes = 3

    def __init__(self, seed: int, smoke: bool):
        self.seed = seed
        self.scale = 7 if smoke else 11
        self.extract_marker = None

    def setup(self, spark, work: str) -> None:
        self.path = os.path.join(work, "rmat")
        build_undirected(rmat_el(spark, self.scale, 16, seed=self.seed)).write.parquet(self.path)

    def oracle(self, spark) -> None:
        import pyarrow.parquet as pq

        t = pq.read_table(self.path)
        src, dst = t["src"].to_numpy(), t["dst"].to_numpy()
        self.edge_keys = oracles.edge_keys(src, dst)
        self.pr_expect = oracles.pagerank(src, dst, self.pr_args["fixed_iters"])
        self.cc_expect = oracles.components(src, dst)
        self.lp_expect = oracles.label_propagation(src, dst, self.lp_iters)
        self.tri_expect = oracles.triangles(src, dst)

    def job(self, spark, tr) -> dict:
        with tr.span("stage_edges", "build"):
            e = stage_edges(spark.read.parquet(self.path))
        with tr.span("pagerank", "pagerank"):
            pr = pagerank(e, **self.pr_args)
        with tr.span("connected_components", "components"):
            cc = connected_components(e)
        with tr.span("label_propagation", "labelprop"):
            lp = label_propagation(e, iters=self.lp_iters)
        with tr.span("triangle_count_total", "triangles"):
            tri = triangle_count_total(e)
        return {"e": e, "pr": pr, "cc": cc, "lp": lp, "tri": tri}

    def verify(self, res: dict, checks: Checks, spans: dict) -> dict:
        m = check_edges(checks, "stage_edges", res["e"], self.edge_keys)
        spans["stage_edges"]["rows_out"] = m
        spans["pagerank"]["rows_out"] = check_pagerank(checks, "pagerank", res["pr"], self.pr_expect)
        spans["connected_components"]["rows_out"] = check_labels(
            checks, "connected_components", res["cc"].components, "component", self.cc_expect
        )
        spans["label_propagation"]["rows_out"] = check_labels(
            checks, "label_propagation", res["lp"].labels, "label", self.lp_expect
        )
        checks.check("triangle_count_total", res["tri"] == self.tri_expect, f"{res['tri']} vs {self.tri_expect}")
        spans["triangle_count_total"]["rows_out"] = 1
        return {
            "pagerank.supersteps": float(res["pr"].iterations),
            "components.rounds": float(res["cc"].iterations),
            "labelprop.rounds": float(res["lp"].iterations),
            "triangles.oriented_edges": float(m // 2),
            "triangles.count": float(res["tri"]),
            "edges": float(m),
        }


WORKLOADS = {w.name: w for w in (CrawlIngest, RmatKernels)}
