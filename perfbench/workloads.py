"""The benchmark's workloads: what one pass runs and how its outputs are
checked.

A workload object is made once per process. :meth:`setup` registers the
inputs through the program's ``catalog.load_table``; :meth:`pass_ops` lists
the operations of a pass, each a callable that runs program code and
returns a materialized result; :meth:`check` compares the results of the
last pass with the references in :mod:`checks`. Program functions are looked up through their
modules at call time, so the tracer's wrappers see every call.
"""

from __future__ import annotations

import importlib
import os
import sys

import numpy as np
import pyarrow.parquet as pq

import checks
import gen

PKG = "bigdatafraude_ml_graphx_spark"


def _mod(name: str):
    return importlib.import_module(f"{PKG}.{name}")


def _read(path: str):
    return pq.read_table(path).to_pandas()


class Workload:
    tables: tuple[str, ...] = ()

    def __init__(self, spark, inputs: str, seed: int, region):
        self.spark = spark
        self.inputs = inputs
        self.seed = seed
        # ``region(name)`` is a context manager: a traced span in a traced
        # run, nothing otherwise.
        self.region = region
        self.frames = {}

    def setup(self) -> None:
        load_table = _mod("catalog").load_table
        for t in self.tables:
            df = load_table(self.spark, self.inputs, t)
            df.createOrReplaceTempView(t)
            self.frames[t] = df

    def pass_ops(self):
        raise NotImplementedError

    def check(self, results: dict) -> list[str]:
        raise NotImplementedError

    def layer_extras(self, results: dict) -> dict[str, float]:
        """Per-layer ratios derived from a pass's outputs (traced run)."""
        return {}


# -------------------------------------------------------------- fraud_graph


EDGES_QUERY = "q20_cooccurrence_edges"


class GraphWorkload(Workload):
    """The reference's GraphX stage over the events co-occurrence graph: the
    edges are built once per pass through the declared query that builds
    them (``q20_cooccurrence_edges``), then each operator runs on them."""

    tables = ("events", "landmarks", "ppr_seeds")

    def pass_ops(self):
        from pyspark.sql import Window
        from pyspark.sql import functions as F

        G = _mod("graph")
        state = self._state = {}

        def edges():
            import __spark_entry__

            with self.region("queries.build"):
                e = __spark_entry__.queries()[EDGES_QUERY](self.spark, self.inputs)
            with self.region("queries.action"):
                state["edges"] = e.localCheckpoint(eager=True)
            # Per-source weight shares by double division over a window, as
            # the declared PageRank queries (q23, q162) build them.
            sym = G.symmetrize(state["edges"])
            total = F.sum("weight").over(Window.partitionBy("src"))
            state["weighted"] = sym.select(
                "src", "dst", (F.col("weight").cast("double") / total.cast("double")).alias("weight"))
            return state["edges"]

        return [
            (EDGES_QUERY, edges),
            ("degrees", lambda: G.degrees(state["edges"]).toPandas()),
            ("connected_components",
             lambda: G.connected_components(state["edges"], dedup_edges=False).toPandas()),
            ("pagerank", lambda: G.pagerank(state["weighted"]).toPandas()),
            ("personalized_pagerank",
             lambda: _mod("graph.pagerank").personalized_pagerank(
                 state["weighted"], self.frames["ppr_seeds"]).toPandas()),
            ("shortest_paths",
             lambda: G.shortest_paths(state["edges"], self.frames["landmarks"]).toPandas()),
        ]

    def _oracle_check(self, edge_frame) -> list[str]:
        """The declared query's result against its DuckDB oracle SQL over
        the same parquet file."""
        import duckdb

        import __spark_entry__

        con = duckdb.connect()
        try:
            path = os.path.join(self.inputs, "events.parquet")
            con.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet('{path}')")
            expected = con.execute(__spark_entry__.oracle_sql()[EDGES_QUERY]).df()
        finally:
            con.close()
        return checks.check_frame(EDGES_QUERY, edge_frame, expected)

    def check(self, results):
        ev = _read(os.path.join(self.inputs, "events.parquet"))
        weights = checks.cooccurrence_edges(
            ev["user_id"].to_numpy(), ev["ts"].dt.floor("h").to_numpy(), ev["event_type"].to_numpy())
        edges = list(weights)
        src, dst, w = checks.normalized_sym(weights)
        seeds = _read(os.path.join(self.inputs, "ppr_seeds.parquet"))["id"].tolist()
        landmarks = _read(os.path.join(self.inputs, "landmarks.parquet"))["id"].tolist()
        verts = {v for e in edges for v in e}

        def as_map(df, key, value):
            return dict(zip(df[key].astype(int), df[value]))

        edge_frame = self._state["edges"].toPandas()
        got_edges = {(int(a), int(b)): int(w)
                     for a, b, w in zip(edge_frame["src"], edge_frame["dst"], edge_frame["weight"])}
        sp = results["shortest_paths"]
        return (
            self._oracle_check(edge_frame)
            + checks.check_equal("cooccurrence_edges", got_edges, weights)
            + checks.check_equal("degrees", as_map(results["degrees"], "id", "degree"),
                                 checks.degrees(edges))
            + checks.check_equal("connected_components",
                                 as_map(results["connected_components"], "id", "component"),
                                 checks.union_find_labels(verts, edges))
            + checks.check_ranks("pagerank", as_map(results["pagerank"], "id", "pagerank"),
                                 checks.pagerank(src, dst, w), len(src))
            + checks.check_ranks(
                "personalized_pagerank",
                as_map(results["personalized_pagerank"], "id", "pagerank"),
                checks.pagerank(src, dst, w, teleport={s: 1.0 / len(seeds) for s in seeds}),
                len(src))
            + checks.check_bfs(
                {(int(a), int(b)): int(d) for a, b, d in zip(sp["id"], sp["landmark"], sp["distance"])},
                checks.bfs_distances(checks.adjacency(edges), landmarks), edges)
        )


# ------------------------------------------------------------- daily_ingest

JACC_TAU = gen.JACC_TAU
DF_FRAC = gen.DF_FRAC
IVF_CELLS = 16
IVF_PROBES = 4
TOPK = 5
RECALL_FLOOR = 0.75
CORPUS_TABLE = "bench_ivf_corpus"


class IngestWorkload(Workload):
    """One day of incremental ingest over standing artifacts, as a daily job
    runs it in a fresh JVM.

    Yesterday's near-duplicate labelling is an input. Each pass builds the
    IVF index over the standing vectors and writes its corpus as a bucketed
    table (replacing the previous pass's), then runs the day: the day's
    documents merged into the labelling, its vectors assigned to cells and
    appended to the corpus table, and the day's nearest-neighbour probes.
    Every pass does the same work."""

    tables = ("documents", "embeddings", "standing_labels", "batch_documents",
              "batch_embeddings", "queries")

    def pass_ops(self):
        D = _mod("dedup.clusters")
        S = _mod("similarity.ivf")
        io = _mod("sources.io")
        docs, batch = self.frames["documents"], self.frames["batch_documents"]
        out = self._state = {}

        def build():
            self.centroids, assigned = S.build_ivf_index(
                self.frames["embeddings"], n_cells=IVF_CELLS, seed=self.seed)
            io.write_bucketed_table(assigned, CORPUS_TABLE, ("cell",), num_buckets=8)
            return True

        def labels():
            n = docs.count() + batch.count()
            out["labels"] = D.update_cluster_labels(
                self.frames["standing_labels"], docs, batch, threshold=JACC_TAU,
                max_shingle_freq=DF_FRAC * n).localCheckpoint(eager=True)
            return n

        def ingest():
            new = S.assign_to_index(self.frames["batch_embeddings"], self.centroids)
            io.write_bucketed_table(new, CORPUS_TABLE, ("cell",), num_buckets=8, mode="append")
            return True

        def probe():
            return S.ivf_topk(self.spark.table(CORPUS_TABLE), self.centroids, self.frames["queries"],
                              k=TOPK, n_probe=IVF_PROBES).toPandas()

        return [("build_ivf_index", build), ("update_cluster_labels", labels),
                ("assign_to_index", ingest), ("ivf_topk", probe)]

    def _docs(self, table: str) -> dict[int, str]:
        d = _read(os.path.join(self.inputs, f"{table}.parquet"))
        return dict(zip(d["doc_id"].astype(int), d["text"]))

    def _vectors(self, table: str) -> dict[int, np.ndarray]:
        t = _read(os.path.join(self.inputs, f"{table}.parquet"))
        return {int(i): np.asarray(v, dtype=np.float32) for i, v in zip(t["vec_id"], t["embedding"])}

    def check(self, results):
        texts = {**self._docs("documents"), **self._docs("batch_documents")}
        vectors = {**self._vectors("embeddings"), **self._vectors("batch_embeddings")}
        queries = self._vectors("queries")
        labels = self._state["labels"].toPandas()
        labels = dict(zip(labels["doc"].astype(int), labels["cluster"].astype(int)))
        # The merged labelling against a from-scratch one made apart from
        # the program: union-find over the exact pairs of the grown corpus.
        pairs = checks.jaccard_pairs(texts, JACC_TAU, DF_FRAC * len(texts))
        errors = checks.check_equal("update_cluster_labels vs union-find", labels,
                                    checks.union_find_labels(texts.keys(), pairs))
        n_corpus = self.spark.table(CORPUS_TABLE).count()
        if n_corpus != len(vectors):
            errors.append(f"ivf corpus holds {n_corpus} rows, base plus batch {len(vectors)}")
        ids = np.array(sorted(vectors))
        exact = checks.cosine_topk(ids, np.stack([vectors[i] for i in ids]),
                                   list(queries), np.stack(list(queries.values())), TOPK)
        got: dict[int, list] = {}
        for r in results["ivf_topk"].sort_values(["query_id", "rank"]).itertuples():
            got.setdefault(int(r.query_id), []).append((int(r.neighbor_id), float(r.cosine)))
        errs, recall = checks.check_topk(got, vectors, queries, exact, RECALL_FLOOR)
        print(f"ivf_topk recall@{TOPK}: {recall:.3f}", file=sys.stderr)
        return errors + errs

    def layer_extras(self, results):
        """``similarity.ivf_topk.scanned_frac``: corpus rows in the probed
        cells (the rows ivf_topk scores) over corpus rows."""
        corpus = self.spark.table(CORPUS_TABLE).select("cell").toPandas()
        sizes = corpus["cell"].value_counts().to_dict()
        cells = self.centroids.toPandas()
        cvec = {int(c): np.asarray(v, dtype=np.float64) for c, v in zip(cells["cell"], cells["cvec"])}
        scanned = 0
        queries = self._vectors("queries")
        for q in queries.values():
            q = q.astype(np.float64)
            near = sorted((-(q @ v) / (np.linalg.norm(q) * np.linalg.norm(v)), c)
                          for c, v in cvec.items())
            scanned += sum(sizes.get(c, 0) for _, c in near[:IVF_PROBES])
        return {"similarity.ivf_topk.scanned_frac": scanned / (len(queries) * len(corpus))}


WORKLOADS = {
    "fraud_graph": GraphWorkload,
    "daily_ingest": IngestWorkload,
}
