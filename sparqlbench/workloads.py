"""The three closed-loop workloads: store set-up and request serving.

Every call into the program goes through ``Tracer.call`` with the name of
the layer (repo module) it enters, so the traced run can split each
request into per-layer self times and Spark jobs.
"""

from __future__ import annotations

import contextlib
import io
import os

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from d_sparq_spark.load_pipeline import append_load, bulk_load, delete_load, open_store
from d_sparq_spark.results import results_json
from d_sparq_spark.sources.ntriples import format_ntriples
from d_sparq_spark.sources.synth_graph import synth_chain_triples

import inputs


def _plan(df) -> None:
    """Force Catalyst analysis, optimization and physical planning through
    the public explain(); the action that follows reuses the planned query."""
    with contextlib.redirect_stdout(io.StringIO()):
        df.explain()


def dir_stats(path: str) -> tuple[int, int]:
    """(bytes, parquet part files) under a store directory."""
    size = files = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            size += os.path.getsize(os.path.join(root, n))
            files += n.startswith("part-")
    return size, files


class Workload:
    """Store set-up and request serving for one workload."""

    name = ""
    materialize: tuple = ()

    def __init__(self, spark, tracer, work: str, seed: int):
        self.spark = spark
        self.t = tracer
        self.work = work
        self.seed = seed
        self.engine = None
        self.store = ""
        self.n_triples = 0

    # -- set-up -------------------------------------------------------------

    def write_inputs(self) -> None:
        """Benchmark-side input generation (pure Python, seeded)."""

    def generate(self, nt_dir: str) -> None:
        """Write the store's N-Triples dump to ``nt_dir``."""
        raise NotImplementedError

    def oracle_views(self) -> dict[str, str]:
        raise NotImplementedError

    def source_triples(self, oracle) -> int:
        """Triples the generated dump holds; the loaded store must match."""
        raise NotImplementedError

    def setup(self) -> None:
        nt, store = os.path.join(self.work, "nt"), os.path.join(self.work, "store")
        self.generate(nt)
        stats = self.t.call("load_pipeline.bulk_load", bulk_load, self.spark, nt, store,
                            materialize=self.materialize)
        self.engine = self.t.call("load_pipeline.open_store", open_store, self.spark, store)
        self.store, self.n_triples = store, stats["n_triples"]
        self.loaded_triples, self.n_terms = stats["n_triples"], stats["n_terms"]

    # -- serving ------------------------------------------------------------

    def read(self, sparql: str) -> str:
        """One SPARQL request: text in, serialized JSON results out."""
        df = self.t.call("encoded_engine.query", self.engine.query, sparql)
        if self.t.enabled:
            self.t.call("spark.plan", _plan, df)
        return self.t.call("results.execute", results_json, df)

    def serve(self, req) -> str:
        return self.read(req.sparql)


class _DerivedStore(Workload):
    """The derived customer/nation/region store, bulk-loaded with the
    property-table layout and reopened with open_store."""

    materialize = ("ptable",)

    def write_inputs(self) -> None:
        self.tables = os.path.join(self.work, "tables")
        os.makedirs(self.tables, exist_ok=True)
        for name, cols in (("customer", inputs.customer_rows(self.seed)),
                           ("nation", inputs.nation_rows()),
                           ("region", inputs.region_rows())):
            pq.write_table(pa.table(cols), os.path.join(self.tables, f"{name}.parquet"))

    def generate(self, nt_dir: str) -> None:
        # written here, not with the Spark sources layer: its cold-JVM jobs
        # cost ~12 s a run, time the timed loop needs more
        os.makedirs(nt_dir)
        with open(os.path.join(nt_dir, "part-0.nt"), "w") as f:
            f.write(inputs.ntriples(inputs.base_triples(self.seed)))

    def oracle_views(self) -> dict[str, str]:
        return {t: os.path.join(self.tables, f"{t}.parquet")
                for t in ("customer", "nation", "region")}

    def source_triples(self, oracle) -> int:
        return inputs.N_DERIVED_TRIPLES


class SparqlPoint(_DerivedStore):
    name = "sparql_point"


class StoreChurn(_DerivedStore):
    """Writes beside reads: append or delete a delta, reopen the store,
    read the delta's subjects back."""

    name = "store_churn"

    def write_inputs(self) -> None:
        super().write_inputs()
        self.deltas = os.path.join(self.work, "deltas")
        os.makedirs(self.deltas, exist_ok=True)

    def delta_path(self, index: int) -> str:
        path = os.path.join(self.deltas, f"delta{index}.nt")
        if not os.path.exists(path):
            with open(path, "w") as f:
                f.write(inputs.ntriples(inputs.delta_triples(self.seed, index)))
        return path

    def serve(self, req) -> str:
        if req.write:
            path = self.delta_path(req.delta)
            write = append_load if req.write == "append" else delete_load
            stats = self.t.call(f"load_pipeline.{req.write}", write, self.spark, path, self.store)
            self.n_triples = stats["n_triples"]
            self.engine = self.t.call("load_pipeline.open_store", open_store, self.spark,
                                      self.store)
        return self.read(req.sparql)


class SparqlScan(Workload):
    """The sources/synth_graph chain graph, terms rewritten as IRIs."""

    name = "sparql_scan"

    def _triples(self):
        t = synth_chain_triples(self.spark, inputs.N_BLOCKS)
        iri = lambda c: F.regexp_replace(F.col(c), r"^n(\d+)$", "n:$1")  # noqa: E731
        return t.select(iri("s").alias("s"), "p", iri("o").alias("o"))

    def generate(self, nt_dir: str) -> None:
        self.t.call("sources.generate",
                    lambda: format_ntriples(self._triples()).write.text(nt_dir))

    def oracle_views(self) -> dict[str, str]:
        path = os.path.join(self.work, "triples.parquet")
        if not os.path.exists(path):
            self._triples().coalesce(1).write.parquet(path)
        return {"triples": os.path.join(path, "*.parquet")}

    def source_triples(self, oracle) -> int:
        return int(oracle.rows("SELECT COUNT(*) FROM triples")[0][0])


WORKLOADS = {w.name: w for w in (SparqlPoint, SparqlScan, StoreChurn)}
