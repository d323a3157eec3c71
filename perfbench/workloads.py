"""The benchmark's workloads.

Each workload has the same life cycle, driven by ``run.py``:

- ``prepare(rep)``: generate and load the inputs (repeated three times
  during set-up, see ``run.py``);
- ``build_views()``: the session-scoped views the units share;
- ``expect()``: reference results for the correctness gates, computed
  without the code under test where possible;
- ``run_unit(k)`` / ``check_unit``: one timed unit of work and its gate;
- ``summarize(units)``: the end-to-end metrics of the timed units;
- ``before_resume(state)``, ``run_resume(state)`` / ``check_resume``:
  the timed resume that follows the last unit of a run, and its gate
  (workloads with ``has_resume``);
- ``probes(state, gates)``: traced runs only, isolated calls into each
  layer; gate failures go to ``gates.errors``.

Why each workload exists, which layers it stresses and which it
bypasses, is recorded in ``perfbench/DESIGN.md``.
"""

from __future__ import annotations

import contextlib
import hashlib
import json
import os
import random
import shutil
import statistics
import time

from perfbench import inputs

FINGERPRINT = "perfbench"
ANALYTICS_QUERIES = [
    "kg_statistics",
    "kg_connected_components",
    "kg_k_hop",
    "kg_pagerank",
    "kg_label_prop",
    "kg_kcore",
    "kg_common_neighbors",
    "kg_triple_dedup",
    "kg_degree_histogram",
]
# query → the oracle that checks it: the DuckDB twin from
# __spark_entry__.oracle_sql, or one of the pure-Python replicas
PY_ORACLES = ("kg_pagerank", "kg_kcore")
EXPORTS = ["statistics", "metta_spo", "sql", "csv", "graphml"]


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for fn in files:
            total += os.path.getsize(os.path.join(root, fn))
    return total


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class Context:
    """What a workload needs from the run: session, seed, scratch
    directory, sizes, the optional tracer and the ``TableStore`` class
    (timed when tracing)."""

    def __init__(self, spark, seed: int, work: str, cores: int, sizes: dict, tracer=None):
        from kgw_spark.sinks.store import TableStore

        self.spark = spark
        self.seed = seed
        self.work = work
        self.cores = cores
        self.sizes = sizes
        self.tracer = tracer
        self.tracing = False  # spans are recorded only while True
        self.tree = None  # the JVM's ProcTree, set once the session is up
        self.store_cls = TableStore if tracer is None else make_timed_store(self)

    def span(self, name: str):
        if self.tracer is not None and self.tracing:
            return self.tracer.span(name)
        return contextlib.nullcontext({})

    def unit_dir(self, k: int) -> str:
        return os.path.join(self.work, "units", f"u{k}")


def make_timed_store(ctx: Context):
    """A ``TableStore`` whose commits and reads are spans (with the
    committed bytes), for the traced run."""
    from kgw_spark.sinks.store import TableStore

    class TimedStore(TableStore):
        def write(self, df, name, partition_by=None, stage=None, input_fingerprint=None):
            with ctx.span(f"store.write:{name}") as rec:
                m = super().write(
                    df, name, partition_by=partition_by, stage=stage,
                    input_fingerprint=input_fingerprint,
                )
                rec["bytes"] = dir_bytes(self.table_path(name))
                rec["rows"] = m["rows"]
            return m

        def read(self, spark, name):
            with ctx.span(f"store.read:{name}"):
                return super().read(spark, name)

    return TimedStore


def triple_set(edges) -> set[tuple[str, str, str]]:
    from kgw_spark.model import triple_view

    pdf = triple_view(edges).toPandas()
    return set(zip(pdf["subj"], pdf["pred"], pdf["obj"]))


def result_digest(df):
    """JVM-side (rows, hash) of a DataFrame: every value cast to string,
    one xxhash64 per row, low 32 bits summed (order-independent, cannot
    overflow at these sizes). Executes the DataFrame's full plan."""
    from pyspark.sql import functions as F

    row = F.concat_ws("\x1f", *[F.col(c).cast("string") for c in df.columns])
    r = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64(row).bitwiseAND(F.lit(0xFFFFFFFF))).alias("h"),
    ).collect()[0]
    return int(r["n"]), int(r["h"] or 0)


def median(xs):
    return statistics.median(xs) if xs else 0.0


class State:
    """What one unit leaves behind for its check, resume and probes."""

    def __init__(self, **kw):
        self.triples = 0
        self.steps: list[tuple[str, float, float]] = []
        self.errors: list[str] = []
        self.__dict__.update(kw)


class Workload:
    warm_units = 1
    has_resume = False

    def summarize(self, units: list[dict]) -> dict[str, float]:
        """``run_s``, ``triples_per_s`` and ``cpu_s``: medians over the
        timed units that passed their gates."""
        return {
            "run_s": median([u["wall"] for u in units]),
            "triples_per_s": median([u["triples"] / u["wall"] for u in units]),
            "cpu_s": median([u["cpu"] for u in units]),
        }


# ---------------------------------------------------------------------------
# build_fused
# ---------------------------------------------------------------------------
class BuildFused(Workload):
    """One fused KG-construction run (``materialize_intermediate=False``,
    dictionary passed driver-resident) over a seeded corpus into a fresh
    store; the resume drops the committed ``nodes`` manifest, as a run
    killed before its last commit would, and re-runs: ``edges`` is read
    back from the store and only ``nodes`` is rebuilt and committed."""

    name = "build_fused"
    warm_units = 3
    has_resume = True

    def prepare(self, ctx: Context, rep: int) -> None:
        from kgw_spark.session import local_df

        sz = ctx.sizes[self.name]
        rows, truth = inputs.corpus(sz["files"], sz["call_lines"], sz["funcs"], ctx.seed)
        self.path = os.path.join(ctx.work, "inputs", f"rep{rep}", "corpus")
        inputs.write_corpus(self.path, rows, files=2 * ctx.cores)
        self.truth = truth.triples
        self.alias = inputs.alias_rows(truth)
        self.alias_df = local_df(
            ctx.spark, self.alias, "alias_id string, canonical_id string, score double"
        )

    def build_views(self, ctx: Context) -> None:
        pass  # the fused pipeline shares no views between runs

    def expect(self, ctx: Context) -> None:
        """Digest of the generator's ground-truth triple set."""
        from kgw_spark.session import local_df

        self.truth_digest = result_digest(
            local_df(ctx.spark, sorted(self.truth), "subj string, pred string, obj string")
        )

    def _corpus(self, ctx):
        from kgw_spark.model import CORPUS_SCHEMA

        return ctx.spark.read.schema(CORPUS_SCHEMA).parquet(self.path)

    def _run(self, ctx, store):
        from kgw_spark.plans.pipeline import run_pipeline

        with ctx.span("pipeline.run_pipeline"):
            return run_pipeline(
                ctx.spark,
                self._corpus(ctx),
                self.alias_df,
                store,
                input_fingerprint=FINGERPRINT,
                materialize_intermediate=False,
                alias_local=self.alias,
            )

    def run_unit(self, ctx: Context, k: int) -> State:
        store = ctx.store_cls(os.path.join(ctx.unit_dir(k), "store"))
        res = self._run(ctx, store)
        return State(store=store, res=res, triples=res.manifests["edges"]["rows"])

    def check_unit(self, ctx: Context, st: State) -> None:
        from kgw_spark.model import triple_view

        if result_digest(triple_view(st.res.edges)) != self.truth_digest:
            got = triple_set(st.res.edges)
            hit = len(got & self.truth)
            st.errors.append(
                f"{self.name}: P={hit / max(1, len(got)):.6f} "
                f"R={hit / max(1, len(self.truth)):.6f}"
            )

    def before_resume(self, ctx: Context, st: State) -> None:
        st.nodes = result_digest(st.res.nodes)

    def run_resume(self, ctx: Context, st: State) -> None:
        os.remove(st.store.manifest_path("nodes"))
        st.resumed = self._run(ctx, st.store)

    def check_resume(self, ctx: Context, st: State) -> None:
        r = st.resumed
        if r.stages_skipped != ["edges"] or "nodes" not in r.stages_run:
            st.errors.append(f"{self.name}: resume skipped {r.stages_skipped}, ran {r.stages_run}")
        if result_digest(r.nodes) != st.nodes:
            st.errors.append(f"{self.name}: resumed nodes differ from the full run")

    def probes(self, ctx: Context, st: State, gates: State) -> dict:
        """Each layer's public function called on its real input and
        materialized on its own (noop sink or eager local checkpoint)."""
        from pyspark.sql import functions as F

        from kgw_spark.operators.canon import canonicalize, compose_mapping
        from kgw_spark.operators.extract import check_sha256, extract_mentions
        from kgw_spark.operators.graph import build_edges, build_nodes
        from kgw_spark.operators.link import link_salted

        from perfbench.procstat import cpu_delta

        spark, out = ctx.spark, {}

        def timed(key, fn):
            t0 = time.perf_counter()
            with ctx.span(key):
                r = fn()
            out[key] = time.perf_counter() - t0
            return r

        corpus = self._corpus(ctx)
        timed("sources.scan_s", lambda: noop(check_sha256(corpus)))
        out["sources.scan_mb"] = dir_bytes(self.path) / 1e6
        c0 = ctx.tree.cpu()
        mentions = timed(
            "extract.s",
            lambda: extract_mentions(corpus, packed_lineage=True).localCheckpoint(eager=True),
        )
        d = cpu_delta(c0, ctx.tree.cpu())
        out["extract.py_cpu_s"], out["extract.jvm_cpu_s"] = d["py"], d["jvm"]
        edges = st.store.read(spark, "edges")
        out["extract.mentions"] = float(edges.agg(F.sum("n_mentions")).collect()[0][0])
        # the salted link runs on the staged pipeline's four-column mentions
        mentions4 = extract_mentions(corpus).localCheckpoint(eager=True)
        timed("link.salted_s", lambda: noop(link_salted(mentions4, self.alias_df, 16)))
        mapping = timed("canon.compose_s", lambda: compose_mapping(self.alias_df, alias_rows=self.alias))
        canonical = timed(
            "canon.canonicalize_s",
            lambda: canonicalize(mentions, mapping).localCheckpoint(eager=True),
        )
        timed("graph.edges_s", lambda: noop(build_edges(canonical)))
        timed("graph.nodes_s", lambda: noop(build_nodes(edges)))
        return out


# ---------------------------------------------------------------------------
# graph_analytics
# ---------------------------------------------------------------------------
class GraphAnalytics(Workload):
    """Serving a KG: the nine graph queries of ``__spark_entry__.queries()``,
    in a seed-permuted order, each timed on its own. The traced run also
    exports the KG through ``api.run`` and resumes the export after one
    of its outputs (the GraphML document) was lost (see ``probes``)."""

    name = "graph_analytics"

    def prepare(self, ctx: Context, rep: int) -> None:
        sz = ctx.sizes[self.name]
        self.sf_dir = os.path.join(ctx.work, "inputs", f"rep{rep}", "tpch")
        inputs.write_tpch(self.sf_dir, inputs.tpch_tables(sz["sf"], ctx.seed))
        self.export_dir = os.path.join(ctx.work, "export", f"rep{rep}")
        self.order = list(ANALYTICS_QUERIES)
        random.Random(ctx.seed).shuffle(self.order)

    def build_views(self, ctx: Context) -> None:
        """The ``tpch_kg`` views every query shares, materialized."""
        from kgw_spark.sources import tpch_kg as KG

        for view in (KG.kg_nodes, KG.kg_edges, KG.kg_pairs, KG.kg_edges2):
            view(ctx.spark, self.sf_dir).count()

    def expect(self, ctx: Context) -> None:
        """Reference digests of the nine queries: the DuckDB twins from
        ``oracle_sql`` over the same parquet files, and the pure-Python
        replicas for pagerank and k-core (as ``__spark_entry__``'s own
        oracle artifacts do)."""
        import duckdb
        from pyspark.sql import functions as F

        import __spark_entry__ as E
        from kgw_spark.operators.kcore import k_core_py
        from kgw_spark.operators.pagerank import pagerank_py
        from kgw_spark.session import local_df
        from kgw_spark.sources import tpch_kg as KG

        con = duckdb.connect()
        for t in inputs.TPCH_TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.sf_dir}/{t}.parquet'")
        sql = E.oracle_sql()
        rows: dict[str, list[tuple]] = {}
        for q in ANALYTICS_QUERIES:
            if q not in PY_ORACLES:
                rows[q] = con.execute(sql[q]).fetchall()
        edge_list = [(r[0], r[2]) for r in con.execute(KG.KG_EDGES_SQL).fetchall()]
        pr = pagerank_py(edge_list, iters=3)
        rows["kg_pagerank"] = sorted(pr.items(), key=lambda kv: (-kv[1], kv[0]))[:20]
        rows["kg_kcore"] = sorted(k_core_py(edge_list, k=3).items())
        self.n_nodes = con.execute(f"{KG.KG_CTE} SELECT COUNT(*) FROM kg_nodes").fetchone()[0]
        self.n_edges = len(edge_list)
        con.close()
        # the rows as result_digest strings them, all queries in one job
        flat = [
            (q, "\x1f".join(str(v) for v in r if v is not None)) for q, rs in rows.items() for r in rs
        ]
        df = local_df(ctx.spark, flat, "q string, row string")
        digests = (
            df.groupBy("q")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.xxhash64("row").bitwiseAND(F.lit(0xFFFFFFFF))).alias("h"),
            )
            .collect()
        )
        self.expected = {q: (0, 0) for q in rows}
        self.expected.update({r["q"]: (int(r["n"]), int(r["h"])) for r in digests})

    def run_unit(self, ctx: Context, k: int) -> State:
        import __spark_entry__ as E

        qs = E.queries()
        st = State(got={}, triples=self.n_edges)
        for q in self.order:
            c0, t0 = ctx.tree.cpu(), time.perf_counter()
            with ctx.span(f"analytics.{q}"):
                st.got[q] = result_digest(qs[q](ctx.spark, self.sf_dir))
            wall = time.perf_counter() - t0
            c1 = ctx.tree.cpu()
            st.steps.append((q, wall, (c1["jvm"] - c0["jvm"]) + (c1["py"] - c0["py"])))
        return st

    def check_unit(self, ctx: Context, st: State) -> None:
        for q, digest in st.got.items():
            if digest != self.expected[q]:
                st.errors.append(f"{self.name}: {q} rows/digest {digest} != oracle {self.expected[q]}")

    def summarize(self, units: list[dict]) -> dict[str, float]:
        """Each query's median wall and CPU over the units; ``run_s`` is
        the sum of the walls (one pass of the nine queries, each at its
        median), so a short stall of the host moves one sample of one
        query instead of a whole pass."""
        walls: dict[str, list[float]] = {}
        cpus: dict[str, list[float]] = {}
        for u in units:
            for q, wall, cpu in u["steps"]:
                walls.setdefault(q, []).append(wall)
                cpus.setdefault(q, []).append(cpu)
        run_s = sum(median(v) for v in walls.values())
        return {
            "run_s": run_s,
            "triples_per_s": self.n_edges / run_s if run_s else 0.0,
            "cpu_s": sum(median(v) for v in cpus.values()),
        }

    # -- the export, traced runs only --------------------------------------
    def project(self):
        """The export project: the TPC-H KG with a JSON property bag."""
        from pyspark.sql import functions as F

        from kgw_spark import api
        from kgw_spark.sources import tpch_kg as KG

        sf_dir = self.sf_dir

        def load(spark):
            nodes = KG.kg_nodes(spark, sf_dir).select(
                "id",
                "type",
                F.to_json(F.struct(F.split("id", ":").getItem(1).alias("key"))).alias(
                    "properties"
                ),
            )
            edges = KG.kg_edges(spark, sf_dir).select(
                "source_id",
                "target_id",
                "type",
                F.to_json(F.struct(F.col("type").alias("relation"))).alias("properties"),
            )
            return nodes, edges

        return api.RawGraphProject("kg", load=load, workdir=self.export_dir)

    @staticmethod
    def declare(proj, outputs):
        for o in outputs:
            {
                "statistics": proj.to_statistics,
                "metta_spo": lambda: proj.to_metta("spo", distributed=True),
                "sql": lambda: proj.to_sql(distributed=True),
                "csv": lambda: proj.to_csv(distributed=True),
                "graphml": lambda: proj.to_graphml(distributed=True),
            }[o]()
        return proj

    def _outputs(self) -> dict[str, str]:
        d = self.project().results_dir
        return {
            "statistics": os.path.join(d, "statistics.json"),
            "metta_spo": os.path.join(d, "kg_spo_metta"),
            "sql": os.path.join(d, "kg_sql"),
            "nodes_csv": os.path.join(d, "kg_nodes_csv"),
            "edges_csv": os.path.join(d, "kg_edges_csv"),
            "graphml": os.path.join(d, "kg_graphml"),
        }

    @staticmethod
    def _lines(path: str) -> list[str]:
        files = [path] if os.path.isfile(path) else sorted(
            os.path.join(path, f) for f in os.listdir(path) if f.startswith("part-")
        )
        out: list[str] = []
        for fn in files:
            with open(fn, encoding="utf-8") as f:
                out.extend(f.read().splitlines())
        return out

    def _check_exports(self, gates: State) -> str:
        """Line counts of every output against the KG; returns the
        digest of all outputs."""
        n, e = self.n_nodes, self.n_edges
        lines = {k: self._lines(p) for k, p in self._outputs().items()}
        stats = json.loads("\n".join(lines["statistics"]))
        counts = {
            "statistics.num_nodes": (stats["num_nodes"], n),
            "statistics.num_edges": (stats["num_edges"], e),
            "metta_spo.lines": (len(lines["metta_spo"]), e),
            "sql.node_inserts": (sum(x.startswith('INSERT INTO "nodes"') for x in lines["sql"]), n),
            "sql.edge_inserts": (sum(x.startswith('INSERT INTO "edges"') for x in lines["sql"]), e),
            "graphml.nodes": (sum(x.startswith("<node id=") for x in lines["graphml"]), n),
            "graphml.edges": (sum(x.startswith("<edge id=") for x in lines["graphml"]), e),
        }
        for kind, want in (("nodes_csv", n), ("edges_csv", e)):
            ls = lines[kind]
            counts[f"{kind}.rows"] = (sum(x != ls[0] for x in ls) if ls else 0, want)
        for what, (got, want) in counts.items():
            if got != want:
                gates.errors.append(f"{self.name}: export {what} = {got}, expected {want}")
        h = hashlib.sha256()
        for k in sorted(lines):
            h.update(k.encode())
            h.update("\n".join(lines[k]).encode())
        return h.hexdigest()

    def probes(self, ctx: Context, st: State, gates: State) -> dict:
        """The TPC-H scan, then the export: one warm ``api.run`` of all
        five outputs (it also commits the project store), one timed
        ``api.run`` per output into an emptied results directory, and the
        resume: the GraphML output is removed and ``api.run`` of all five
        re-renders only it. Every export is checked against the KG, and
        the three exports must be byte-identical."""
        from kgw_spark import api

        spark, out = ctx.spark, {}
        t0 = time.perf_counter()
        with ctx.span("sources.scan_s"):
            for t in inputs.TPCH_TABLES:
                noop(spark.read.parquet(os.path.join(self.sf_dir, f"{t}.parquet")))
        out["sources.scan_s"] = time.perf_counter() - t0
        out["sources.scan_mb"] = dir_bytes(self.sf_dir) / 1e6

        with ctx.span("export.warm"):
            api.run(spark, self.declare(self.project(), EXPORTS))
        digest = self._check_exports(gates)
        shutil.rmtree(self.project().results_dir)
        first = len(ctx.tracer.spans)
        for o in EXPORTS:
            t0 = time.perf_counter()
            with ctx.span(f"export.{o}"):
                api.run(spark, self.declare(self.project(), [o]))
            out[f"export.{o}_s"] = time.perf_counter() - t0
        out["store.read_s"] = sum(
            s["end"] - s["start"]
            for s in ctx.tracer.spans[first:]
            if s["name"].startswith("store.read:")
        )
        if self._check_exports(gates) != digest:
            gates.errors.append(f"{self.name}: per-output exports differ from the warm export")
        out["export.out_mb"] = dir_bytes(self.project().results_dir) / 1e6
        store = os.path.join(self.project().dirpath, "store", "tables", "edges")
        out["store.bytes_per_triple"] = dir_bytes(store) / self.n_edges

        shutil.rmtree(self._outputs()["graphml"])
        t0 = time.perf_counter()
        with ctx.span("resume"):
            api.run(spark, self.declare(self.project(), EXPORTS))
        out["pipeline.resume_s"] = time.perf_counter() - t0
        if self._check_exports(gates) != digest:
            gates.errors.append(f"{self.name}: resumed exports differ from the warm export")
        return out


WORKLOADS = {"build_fused": BuildFused, "graph_analytics": GraphAnalytics}
