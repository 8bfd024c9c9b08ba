"""The benchmark workloads.  Each drives the package's public API only.

A workload has ``prepare_inputs()`` (untimed input files),
``setup()`` (generate and cache the inputs, decode and broadcast the
MMDB), ``prepare_checks()`` (the oracle's expectations), ``job()`` (one
batch job; returns a handle), ``check(handle)`` (the independent oracle;
returns a list of errors) and ``cleanup(handle)``.  For the traced run
it adds ``instrument(tracer)`` (spans inside a job) and
``layer_metrics(...)``.  ``span`` is the tracer's span factory in the
traced run and a no-op otherwise.
"""

from __future__ import annotations

import contextlib
import math
import shutil
from pathlib import Path

import numpy as np
import pyarrow.parquet as pq
from pyspark.sql import functions as F

import inputs

STAGES = ["01_indicators", "02_refined", "03_scored", "04_clusters"]
F1_FLOOR = 0.99  # north-star pairwise F1 floor


def _no_span(name):
    return contextlib.nullcontext()


def dir_bytes(path: Path) -> int:
    return sum(p.stat().st_size for p in Path(path).rglob("*") if p.is_file())


class Linkage:
    """``plans.pipeline.run_pipeline`` over a uniform synthetic corpus
    with one hot /24 block, enriched through the synthetic GeoLite pair
    (stage 02 runs the ``geoip`` Arrow UDF with ``persist_blocked``)."""

    unit = "files"
    N_ENTITIES = 700
    RECORDS_PER_ENTITY = 3
    # 254 entities x 6 records share one /24 (~305 rows per language on
    # average), so (asn, /24, lang) blocks exceed the pipeline's 256-row
    # cap and the refinement path runs on every job
    HOT_ENTITIES = 254
    HOT_CLUSTER = 6

    def __init__(self, spark, seed: int, work: Path, mmdb_dir: Path, nproc: int):
        self.spark, self.seed, self.work, self.mmdb_dir = spark, seed, work, mmdb_dir
        self.span = _no_span
        self.corpus = None
        self.n_inputs = 0
        self.jobs = 0
        self.truth = None
        self.last_f1 = None

    def setup(self) -> None:
        from polars_iptools_spark import geoip
        from polars_iptools_spark.sources.corpus import synth_corpus

        with self.span("sources.corpus"):
            corpus, self._truth_df = synth_corpus(
                self.spark,
                n_entities=self.N_ENTITIES,
                records_per_entity=self.RECORDS_PER_ENTITY,
                n_blocks=10,
                seed=self.seed,
                hot_entities=self.HOT_ENTITIES,
                hot_cluster_size=self.HOT_CLUSTER,
            )
            if self.corpus is not None:
                self.corpus.unpersist()
            self.corpus = corpus.cache()
            self.n_inputs = self.corpus.count()
        with self.span("enrich.broadcast"):
            geoip.full("ip", db_dir=str(self.mmdb_dir), reload_mmdb=True)

    def prepare_inputs(self) -> None:
        pass

    def prepare_checks(self) -> dict:
        t = self._truth_df.toPandas()
        self.truth = dict(zip(t["commit"], t["entity"]))
        return {"files": self.n_inputs, "entities": len(set(self.truth.values()))}

    def job(self):
        from polars_iptools_spark.plans.pipeline import run_pipeline

        self.jobs += 1
        ckpt = self.work / f"ckpt-{self.jobs}"
        res = run_pipeline(self.spark, self.corpus, str(ckpt), mmdb_dir=str(self.mmdb_dir))
        return res, ckpt

    def check(self, handle) -> list[str]:
        _, ckpt = handle
        t = pq.read_table(ckpt / "04_clusters", columns=["commit", "cluster_id"]).to_pandas()
        errs = []
        if len(t) != self.n_inputs or t["commit"].nunique() != self.n_inputs:
            errs.append(f"clusters cover {t['commit'].nunique()} of {self.n_inputs} files")
        truth = t["commit"].map(self.truth)
        if truth.isna().any():
            errs.append("clusters hold commits the corpus does not")
            return errs
        self.last_f1 = inputs.pairwise_f1(t["cluster_id"].to_numpy(), truth.to_numpy())
        if self.last_f1 < F1_FLOOR:
            errs.append(f"pairwise F1 {self.last_f1:.4f} < {F1_FLOOR}")
        return errs

    def cleanup(self, handle) -> None:
        shutil.rmtree(handle[1], ignore_errors=True)

    def quality(self) -> dict:
        return {"pairwise_f1": self.last_f1}

    @contextlib.contextmanager
    def instrument(self, tracer):
        """Open a span around each stage commit and the closure, and pass
        the closure the ``stats=`` hook, for the traced job only."""
        from polars_iptools_spark.plans import checkpoint, pipeline

        self.closure_stats = closure_stats = {}
        orig_stage = checkpoint.StageRunner.stage
        orig_cc = pipeline.connected_components

        def stage(runner, name, fn):
            with tracer.span(f"checkpoint.{name}"):
                return orig_stage(runner, name, fn)

        def closure(edges, **kw):
            with tracer.span("closure"):
                return orig_cc(edges, stats=closure_stats, **kw)

        checkpoint.StageRunner.stage = stage
        pipeline.connected_components = closure
        try:
            yield
        finally:
            checkpoint.StageRunner.stage = orig_stage
            pipeline.connected_components = orig_cc

    def layer_metrics(self, tracer, handle, walls_from: int) -> dict:
        """Stage and closure walls from the job under span ``walls_from``;
        counts at the blocking, scoring and closure boundaries from extra
        jobs over ``handle``'s outputs (inside a ``counts`` span, so they
        stay out of the traced job's engine totals)."""
        from polars_iptools_spark.plans import scoring
        from polars_iptools_spark.plans.pipeline import DEFAULT_THRESHOLD

        res, ckpt = handle
        closure_stats = self.closure_stats
        m = {}
        for st in STAGES:
            m[f"checkpoint.stage_s.{st}"] = tracer.find(f"checkpoint.{st}", walls_from)["wall_s"]
            m[f"checkpoint.rows.{st}"] = float(res["metrics"][st]["rows"])
            m[f"checkpoint.bytes.{st}"] = float(dir_bytes(ckpt / st))
        with tracer.span("counts"):
            parts = F.split("block_key", r"\|")
            hot_blocks = (
                res["blocked"].where(F.size(parts) > 3)
                .select(F.concat_ws("|", parts[0], parts[1], parts[2])).distinct().count()
            )
            pairs = res["pairs"].count()
            hot = scoring.hot_candidates(res["pairs"], threshold=DEFAULT_THRESHOLD).count()
            edges = res["edges"].count()
        m.update({
            "blocking.indicators": m["checkpoint.rows.01_indicators"],
            "blocking.refined_rows": m["checkpoint.rows.02_refined"],
            "blocking.hot_blocks": float(hot_blocks),
            "blocking.candidate_pairs": float(pairs),
            "scoring.hot_candidates": float(hot),
            "scoring.edges": float(edges),
            "scoring.useful_ratio": edges / pairs if pairs else 0.0,
            "scoring.jw_ratio": hot / pairs if pairs else 0.0,
            "closure.supersteps": float(closure_stats.get("supersteps", 0)),
            "closure.s": tracer.find("closure", walls_from)["wall_s"],
            "closure.normalize_s": float(closure_stats.get("normalize_s", 0.0)),
            "closure.edges_in": float(edges),
        })
        return m


class Enrich:
    """The IP column functions over a seeded IP column and indicator
    text.  One job runs every operation once, each as one aggregate
    whose result the oracle predicts."""

    unit = "rows"
    N_IPS = 100_000
    N_TEXTS = 20_000
    OPS = ["scalar_native", "typed_roundtrip", "is_in", "geoip_full", "extract_v4", "extract_v6"]

    def __init__(self, spark, seed: int, work: Path, mmdb_dir: Path, nproc: int):
        self.spark, self.seed, self.work, self.mmdb_dir = spark, seed, work, mmdb_dir
        self.nproc = nproc
        self.span = _no_span
        self.n_inputs = self.N_IPS + self.N_TEXTS
        self.ips = self.texts = None

    def prepare_inputs(self) -> None:
        """Write the seeded parquet inputs once per seed (the benchmark's
        own generator, so outside ``setup_s``)."""
        d = self.work.parent / "cache" / f"enrich-{self.seed}-{self.N_IPS}-{self.N_TEXTS}"
        self.paths = (d / "ips.parquet", d / "texts.parquet")
        if not self.paths[1].exists():
            tmp = d.with_name(d.name + ".tmp")
            tmp.mkdir(parents=True, exist_ok=True)
            inputs.ip_column(self.seed, self.N_IPS).to_parquet(tmp / "ips.parquet", index=False)
            inputs.text_column(self.seed, self.N_TEXTS).to_parquet(tmp / "texts.parquet", index=False)
            shutil.rmtree(d, ignore_errors=True)
            tmp.rename(d)

    def setup(self) -> None:
        from polars_iptools_spark import geoip

        with self.span("sources.inputs"):
            for df in (self.ips, self.texts):
                if df is not None:
                    df.unpersist()
            self.ips = self.spark.read.parquet(str(self.paths[0])).repartition(self.nproc).cache()
            self.texts = self.spark.read.parquet(str(self.paths[1])).repartition(self.nproc).cache()
            self.ips.count()
            self.texts.count()
        with self.span("enrich.broadcast"):
            geoip.full("ip", db_dir=str(self.mmdb_dir), reload_mmdb=True)

    def prepare_checks(self) -> dict:
        self.expected = inputs.enrich_oracle(*self.paths)
        self.expected["geoip_full"] = inputs.geoip_oracle(pq.read_table(self.paths[0]).to_pandas())
        mix = {f"ip.{k}": v for k, v in inputs.IP_MIX.items()}
        mix.update({f"text.{k}": v for k, v in inputs.TEXT_MIX.items()})
        return {"ips": self.N_IPS, "texts": self.N_TEXTS, "mix": mix}

    def _run_op(self, op: str) -> tuple:
        import polars_iptools_spark as ip

        ips, texts = self.ips, self.texts
        if op == "scalar_native":
            q = ips.agg(
                F.sum(ip.is_valid("ip").cast("long")),
                F.sum(ip.is_private("ip").cast("long")),
                F.sum(ip.ipv4_to_numeric("ip")),
            )
        elif op == "typed_roundtrip":
            c = ip.to_string(ip.to_address("ip"))
            q = ips.select(c.alias("c"), "ip").agg(
                F.count("c"), F.sum((F.col("c") == F.col("ip")).cast("long"))
            )
        elif op == "is_in":
            m = ip.is_in("ip", inputs.IS_IN_NETWORKS)
            q = ips.select(m.alias("m")).agg(
                F.sum(F.col("m").cast("long")), F.sum((~F.col("m")).cast("long"))
            )
        elif op == "geoip_full":
            g = ip.geoip.full("ip", db_dir=str(self.mmdb_dir))
            q = ips.select(g.alias("g")).agg(
                F.count("g.asnnum"), F.sum("g.asnnum"), F.sum("g.latitude"),
                F.sum(F.length("g.city")),
            )
        else:
            x = ip.extract_public_ips("text", ipv6=op == "extract_v6")
            q = texts.select(F.explode(x).alias("x")).agg(F.count("x"), F.sum(F.length("x")))
        return tuple(0 if v is None else v for v in q.collect()[0])

    def job(self):
        out = {}
        for op in self.OPS:
            with self.span("geoip.full" if op == "geoip_full" else f"iptools.{op}"):
                out[op] = self._run_op(op)
        return out

    def check(self, out) -> list[str]:
        errs = []
        for op in self.OPS:
            got, exp = out[op], self.expected[op]
            if op == "geoip_full":
                ok = (got[0], got[1], got[3]) == (exp[0], exp[1], exp[3]) and math.isclose(
                    got[2], exp[2], rel_tol=1e-9, abs_tol=1e-6)
            else:
                ok = tuple(int(v) for v in got) == exp
            if not ok:
                errs.append(f"{op}: got {got}, oracle {exp}")
        return errs

    def cleanup(self, handle) -> None:
        pass

    def quality(self) -> dict:
        return {}

    def instrument(self, tracer):
        return contextlib.nullcontext()

    def layer_metrics(self, tracer, handle, walls_from: int) -> dict:
        return {
            ("geoip.full_s" if op == "geoip_full" else f"iptools.{op}_s"):
            tracer.find("geoip.full" if op == "geoip_full" else f"iptools.{op}", walls_from)["wall_s"]
            for op in self.OPS
        }


def near_dup(spark, tracer, seed: int, nproc: int, profiler) -> tuple[dict, list[str]]:
    """``operators.dedup`` and ``operators.similarity`` over seeded
    documents and embeddings with planted near-duplicates: one cold
    pass under the UDF profiler, then one warm pass without it whose
    walls are reported.  Traced run only; see LAYERS.md for why it is
    not an untraced workload."""
    from polars_iptools_spark.operators import dedup, similarity

    docs_pdf, planted_docs = inputs.documents(seed, 2000, 50)
    emb_pdf, mat, planted_vecs = inputs.embeddings(seed, 2000, 64, 50)
    queries = sorted(a for a, _ in planted_vecs)[:8]

    def run_all(prefix: str) -> dict:
        # lsh_near_duplicates keeps its bucket frame cached, so a second
        # call would read it back; each pass starts from a cleared cache
        spark.catalog.clearCache()
        with tracer.span("near_dup.inputs"):
            docs = spark.createDataFrame(docs_pdf).repartition(nproc).cache()
            emb = spark.createDataFrame(emb_pdf).repartition(nproc).cache()
            docs.count()
            emb.count()
        q = emb.where(F.col("vec_id").isin(queries)).select(
            F.col("vec_id").alias("query_id"), "embedding")
        out = {"docs": docs}
        with tracer.span(f"{prefix}.minhash"), dedup.CacheScope() as caches:
            out["minhash"] = dedup.minhash_lsh_pairs(
                docs, "doc_id", "text", threshold=0.5, caches=caches).collect()
        with tracer.span(f"{prefix}.simhash"), dedup.CacheScope() as caches:
            out["simhash"] = dedup.simhash_pairs(
                docs, "doc_id", "text", max_hamming=3, bands=4, caches=caches).collect()
        with tracer.span(f"{prefix}.lsh"):
            out["lsh"] = similarity.lsh_near_duplicates(emb, dim=64, threshold=0.95).collect()
        with tracer.span(f"{prefix}.topk"):
            out["topk"] = similarity.brute_force_topk(emb, q, k=2).collect()
        return out

    profiler(True)
    try:
        with tracer.span("near_dup.cold"):
            run_all("near_dup.cold")
    finally:
        profiler(False)
    with tracer.span("near_dup.warm"):
        out = run_all("near_dup.warm")
    with tracer.span("counts"), dedup.CacheScope() as caches:
        # threshold 0 keeps every LSH candidate pair
        candidates = dedup.minhash_lsh_pairs(
            out["docs"], "doc_id", "text", threshold=0.0, caches=caches).count()
    spark.catalog.clearCache()

    errs = []
    found_docs = {(min(r.doc_a, r.doc_b), max(r.doc_a, r.doc_b)) for r in out["minhash"]}
    if any(r.jaccard < 0.5 for r in out["minhash"]):
        errs.append("minhash_lsh_pairs returned a pair below its threshold")
    if any(r.hamming > 3 for r in out["simhash"]):
        errs.append("simhash_pairs returned a pair beyond its hamming bound")
    unit = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    found_vecs = set()
    for r in out["lsh"]:
        if float(unit[r.id_a] @ unit[r.id_b]) < 0.95 - 1e-4:
            errs.append(f"lsh_near_duplicates pair {r.id_a},{r.id_b} below its threshold")
        found_vecs.add((min(r.id_a, r.id_b), max(r.id_a, r.id_b)))
    twin = dict(planted_vecs)
    for r in out["topk"]:
        if r.rank == 2 and r.vec_id != twin[r.query_id]:
            errs.append(f"brute_force_topk: query {r.query_id} second neighbour {r.vec_id}")
    hit = len(planted_docs & found_docs) + len(planted_vecs & found_vecs)
    recall = hit / (len(planted_docs) + len(planted_vecs))
    if recall < 0.95:
        errs.append(f"planted near-duplicate recall {recall:.3f} < 0.95")
    walls = {k: tracer.find(f"near_dup.warm.{k}")["wall_s"] for k in ("minhash", "simhash", "lsh", "topk")}
    metrics = {
        "dedup.minhash_s": walls["minhash"],
        "dedup.simhash_s": walls["simhash"],
        "dedup.candidates": float(candidates),
        "dedup.pairs": float(len(out["minhash"])),
        "dedup.cold_s": tracer.find("near_dup.cold")["wall_s"],
        "similarity.lsh_s": walls["lsh"],
        "similarity.topk_s": walls["topk"],
        "near_dup.planted_recall": recall,
        "python.kernel_s.lsh": tracer.find("near_dup.cold.lsh")["kernel_s"],
    }
    return metrics, errs
