"""The three workloads: input set-up and one measured pass each.

crawl    generated pages -> extract.extract_edges -> five graph algorithms
skewed   Zipf out-degree edges (hub split, AQE skew handling) -> five algorithms
resume   the crawl edge table -> four checkpointed algorithms, a simulated
         crash (newest manifests removed) and a resume that must reproduce
         the uninterrupted result

A pass calls each layer through its public function inside a span and
times it up to its result being collected on the driver. Output checks
run after the span closes, so they are not timed.
"""

from __future__ import annotations

import os
import re
import shutil
import sys
import time
import traceback

from perfbench import gen, oracle

ITERS = {"pagerank": 10, "labelprop": 3, "hits": 4}
# The warm-up pass calls every layer once, with fewer iterations: the JIT
# and Spark's code generation see every plan shape without paying for a
# full pass.
WARMUP_ITERS = {"pagerank": 3, "labelprop": 1, "hits": 2}

ALGO_LAYERS = (
    "algorithms.pagerank",
    "algorithms.components",
    "algorithms.labelprop",
    "algorithms.triangles",
    "algorithms.hits",
)
_MANIFEST = re.compile(r"^(\d{6})(?:\.v\d+)?\.json$")


class Workload:
    """One workload bound to a Spark session, a seed and a work directory.

    ``prepare`` builds inputs and the edge table (the timed part of set-up);
    ``load_references`` computes the reference outputs (untimed);
    ``run_pass`` runs one pass and records failures in ``self.failures``.
    Subclasses implement ``prepare``, ``_reference_edges`` and ``_pass``."""

    name = ""
    layers: tuple[str, ...] = ()

    def __init__(self, spark, tracer, seed: int, sizes: dict, work_dir: str):
        self.spark = spark
        self.tracer = tracer
        self.seed = seed
        self.sizes = sizes
        self.work_dir = work_dir
        self.attempted = 0
        self.failures: list[dict] = []
        self.infos: dict[str, list[dict]] = {}
        self.edges = None
        self.n_edges = 0
        self.ref: dict = {}
        self.ref_edges = None
        self.gen_s: list[float] = []
        self.iters = ITERS

    # -- set-up -------------------------------------------------------------
    def prepare(self, out_dir: str) -> None:
        """Generate the inputs into ``out_dir`` and build the edge table."""
        raise NotImplementedError

    def _persist_edges(self, df) -> None:
        self.edges = df.persist()
        self.n_edges = self.edges.count()

    def load_references(self) -> None:
        self.ref_edges = src, dst = self._reference_edges()
        self.ref = oracle.references(
            src, dst, ITERS["pagerank"], ITERS["labelprop"], ITERS["hits"],
            with_triangles="algorithms.triangles" in self.layers,
        )

    def _reference_edges(self):
        raise NotImplementedError

    # -- a pass -------------------------------------------------------------
    def run_pass(self, pass_id: int, warmup: bool = False) -> None:
        """One pass. The warm-up pass runs WARMUP_ITERS and its outputs are
        not checked (the references are for ITERS); its exceptions still
        count as failures."""
        self.iters = WARMUP_ITERS if warmup else ITERS
        self._pass(pass_id)

    def _pass(self, pass_id: int) -> None:
        raise NotImplementedError

    def _fresh_cache(self, edges_df) -> None:
        """Drop every cache the previous pass left behind (triangle_count
        keeps its own), so a pass never reads another pass's results."""
        self.spark.catalog.clearCache()
        self._persist_edges(edges_df)

    def _call(self, layer: str, fn, check):
        """Run ``fn`` in a span named ``layer``; ``fn`` returns (result,
        info) with the result already collected. A raised exception or a
        failed check counts as one failed operation."""
        self.attempted += 1
        result = None
        try:
            with self.tracer.span(layer):
                result, info = fn()
            self.infos.setdefault(layer, []).append({"pass": self.tracer.pass_id, **info})
            err = check(result) if self.iters is ITERS else None
        except Exception as e:  # a failed operation is counted, the run goes on
            traceback.print_exc(file=sys.stderr)
            err = f"{type(e).__name__}: {e}"
        if err:
            self.failures.append({"layer": layer, "pass": self.tracer.pass_id, "error": err})
        return result

    def _algorithms(self, edges, checkpointers: dict | None = None) -> dict:
        """The graph algorithms of one pass, in ``self.layers`` order;
        returns their collected outputs."""
        ck = checkpointers or {}
        out = {}
        for layer in self.layers:
            if layer.startswith("algorithms."):
                out[layer] = self._call(
                    layer,
                    lambda layer=layer: run_algorithm(layer, edges, self.iters, ck.get(layer)),
                    lambda got, layer=layer: check_algorithm(layer, self.ref, got),
                )
        return out


RESULT_COLS = {
    "algorithms.pagerank": ["rank"],
    "algorithms.components": ["comp"],
    "algorithms.labelprop": ["label"],
    "algorithms.hits": ["auth", "hub"],
}


def run_algorithm(layer: str, edges, iters: dict, checkpointer=None):
    """Call a graph algorithm's public function; returns (result, info)
    with the result collected on the driver."""
    from scalemine_spark import algorithms as alg

    if layer == "algorithms.triangles":
        return int(alg.triangle_count(edges).collect()[0]["triangles"]), {}
    if layer == "algorithms.pagerank":
        df, info = alg.pagerank(edges, fixed_iters=iters["pagerank"], checkpointer=checkpointer)
    elif layer == "algorithms.components":
        df, info = alg.connected_components(edges, checkpointer=checkpointer)
    elif layer == "algorithms.labelprop":
        df, info = alg.label_propagation(edges, iters=iters["labelprop"], checkpointer=checkpointer)
    elif layer == "algorithms.hits":
        df, info = alg.hits(edges, iters=iters["hits"], checkpointer=checkpointer)
    else:
        raise ValueError(f"unknown algorithm layer {layer!r}")
    return df.toPandas(), info


def check_algorithm(layer: str, ref: dict, got) -> str | None:
    want = ref[layer.split(".")[-1]]
    if layer == "algorithms.triangles":
        return None if got == want else f"{got} triangles, want {want}"
    if layer in ("algorithms.pagerank", "algorithms.hits"):
        return oracle.check_close(got, want, RESULT_COLS[layer])
    return oracle.check_exact(got, want, RESULT_COLS[layer][0])


# --------------------------------------------------------------------------


class Crawl(Workload):
    name = "crawl"
    layers = ("extract",) + ALGO_LAYERS

    def prepare(self, out_dir):
        from scalemine_spark.extract import extract_edges

        t0 = time.monotonic()
        self.pages_path, self.expected_path = gen.crawl_pages(out_dir, self.seed, self.sizes["pages"])
        self.gen_s.append(time.monotonic() - t0)
        self.pages = self.spark.read.parquet(self.pages_path)
        self._persist_edges(extract_edges(self.pages))

    def _reference_edges(self):
        return expected_edge_ids(self.spark, self.expected_path)

    def _pass(self, pass_id):
        from scalemine_spark.extract import extract_edges

        self.spark.catalog.clearCache()
        src, dst = self.ref_edges

        def extract():
            self.edges = extract_edges(self.pages).persist()
            return self.edges.toPandas(), {}

        got = self._call("extract", extract, lambda pdf: oracle.check_edges(pdf, src, dst))
        if got is None:
            return
        self.n_edges = len(got)
        self._algorithms(self.edges)


class Skewed(Workload):
    name = "skewed"
    layers = ALGO_LAYERS

    def prepare(self, out_dir):
        t0 = time.monotonic()
        self.edges_path = gen.skewed_edges(
            self.spark, out_dir, self.seed, self.sizes["skew_edges"], self.sizes["skew_vertices"]
        )
        self.gen_s.append(time.monotonic() - t0)
        self._persist_edges(self.spark.read.parquet(self.edges_path))

    def _reference_edges(self):
        return gen.read_edge_arrays(self.edges_path)

    def _pass(self, pass_id):
        self._fresh_cache(self.spark.read.parquet(self.edges_path))
        self._algorithms(self.edges)


class Resume(Workload):
    name = "resume"
    layers = (
        "algorithms.pagerank",
        "algorithms.components",
        "algorithms.labelprop",
        "algorithms.hits",
        "resume",
    )
    CHECKPOINTED = ("algorithms.pagerank", "algorithms.components", "algorithms.labelprop", "algorithms.hits")

    def prepare(self, out_dir):
        from scalemine_spark.extract import extract_edges

        t0 = time.monotonic()
        pages_path, self.expected_path = gen.crawl_pages(out_dir, self.seed, self.sizes["pages"])
        self.gen_s.append(time.monotonic() - t0)
        self.edges_path = os.path.join(out_dir, "edges.parquet")
        extract_edges(self.spark.read.parquet(pages_path)).write.parquet(self.edges_path)
        self._persist_edges(self.spark.read.parquet(self.edges_path))

    def _reference_edges(self):
        return expected_edge_ids(self.spark, self.expected_path)

    def load_references(self):
        import pandas as pd

        super().load_references()
        # the edge table built in set-up must be the generator's edge set
        self.attempted += 1
        got_src, got_dst = gen.read_edge_arrays(self.edges_path)
        err = oracle.check_edges(pd.DataFrame({"src": got_src, "dst": got_dst}), *self.ref_edges)
        if err:
            self.failures.append({"layer": "extract", "pass": None, "error": err})

    def _pass(self, pass_id):
        from scalemine_spark.checkpoint import CheckpointManager

        self._fresh_cache(self.spark.read.parquet(self.edges_path))
        root = os.path.join(self.work_dir, "checkpoints")
        run_id = f"pass{pass_id}"

        def manager(layer):
            return instrument(CheckpointManager(root, run_id, layer.split(".")[-1]), self.tracer)

        managers = {layer: manager(layer) for layer in self.CHECKPOINTED}
        first = self._algorithms(self.edges, managers)
        # the warm-up stops here: a resume runs the same commit and
        # state-read paths the uninterrupted runs just warmed
        if self.iters is ITERS:
            for ck in managers.values():
                drop_newest_manifests(ck.manifest_dir)
            fresh = {layer: manager(layer) for layer in self.CHECKPOINTED}
            self._call("resume", lambda: (self._resume_all(fresh), {}), lambda out: self._check_resume(first, out))
        shutil.rmtree(os.path.join(root, run_id), ignore_errors=True)

    def _resume_all(self, ck: dict) -> dict:
        return {layer: run_algorithm(layer, self.edges, self.iters, ck[layer])[0] for layer in self.CHECKPOINTED}

    def _check_resume(self, first: dict, resumed: dict) -> str | None:
        errs = []
        for layer in self.CHECKPOINTED:
            if first.get(layer) is None:
                errs.append(f"{layer}: no uninterrupted result")
                continue
            err = oracle.check_same(first[layer], resumed[layer], RESULT_COLS[layer])
            if err:
                errs.append(f"{layer}: {err}")
        return "; ".join(errs) or None


WORKLOADS = {w.name: w for w in (Crawl, Skewed, Resume)}


def expected_edge_ids(spark, expected_path: str):
    """The generator's expected (src_url, dst_url) pairs as vertex ids
    (Spark's xxhash64 of the url, the engine's documented id)."""
    from pyspark.sql import functions as F

    pdf = (
        spark.read.parquet(expected_path)
        .select(F.xxhash64("src_url").alias("src"), F.xxhash64("dst_url").alias("dst"))
        .toPandas()
    )
    return pdf["src"].to_numpy("int64"), pdf["dst"].to_numpy("int64")


def instrument(ck, tracer):
    """With tracing on, time the manager's commit, latest and read_state
    calls as child spans of the algorithm that makes them; a commit span
    also records the files and bytes its manifest lists. Untraced runs get
    the manager unchanged."""
    if not tracer.enabled:
        return ck

    def wrap(name, fn):
        def timed(*args, **kwargs):
            with tracer.span(f"checkpoint.{name}") as rec:
                out = fn(*args, **kwargs)
            if name == "commit":
                files = ck.read_manifest(args[0])["files"]
                rec["files"] = len(files)
                rec["mb"] = sum(f["bytes"] for f in files) / (1 << 20)
            return out

        return timed

    for name in ("commit", "latest", "read_state"):
        setattr(ck, name, wrap(name, getattr(ck, name)))
    return ck


def drop_newest_manifests(manifest_dir: str, n_iters: int = 2) -> int:
    """Simulate a crash: delete every manifest version of the newest
    committed iterations, keeping at least the oldest one. Returns the
    number of iterations dropped."""
    by_iter: dict[int, list[str]] = {}
    for name in os.listdir(manifest_dir):
        m = _MANIFEST.match(name)
        if m:
            by_iter.setdefault(int(m.group(1)), []).append(name)
    newest = sorted(by_iter)[1:][-n_iters:]
    for it in newest:
        for name in by_iter[it]:
            os.remove(os.path.join(manifest_dir, name))
    return len(newest)
