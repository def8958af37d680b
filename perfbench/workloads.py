"""The benchmark's workloads and the engine calls each one makes.

Batch workloads are closed loops over registered query names: one call
is ``registry.queries()[name](spark, data_dir)`` followed by ``count()``.
Each batch workload declares the tables it opens and the lake caches it
reads; both are set up before timing so the timed passes pay only the
recurring cost. ``stream_ingest`` drives Structured Streaming
``foreachBatch`` loops against persisted indexes instead (see
:class:`StreamIngest`).

``GATED`` are the workloads ``BENCHMARK.json`` runs. ``llm_corpus`` and
``stream_ingest`` run the same way on request; README.md has the
measurements that keep them out of the gate.
"""

from __future__ import annotations

import os
import shutil
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Planning- and stage-latency-bound SQL: TPC-H shapes plus relational,
# window and temporal operators. Touches no lake cache and no Python
# UDF, so it is the no-change control for cache and kernel work.
OLAP_SHORT = (
    "tpch_q3_shipping_priority",
    "tpch_q9_product_type_profit",
    "tpch_q18_large_orders",
    "w_topk_per_group",
    "j_asof_join",
    "st_session_window",
)

# The wedge family and the iterative (superstep) family over the
# bucketed co-purchase edge caches. At the benchmark's scale these calls
# are bound by job and stage latency (README.md has the measurement).
GRAPH_ITER = (
    "g_adamic_adar",
    "g_triangle_count",
    "g_pagerank_fixed",
)

# One query each from functions.corpus, .dedup, .similarity and .text:
# Python/Arrow boundary (mapInPandas) and a read of the MinHash
# signature cache.
LLM_CORPUS = (
    "corpus_prep_e2e",
    "d_minhash_lsh",
    "sim_lsh_multiprobe_ann",
    "t_tfidf_top_terms",
)

BATCH = {
    "olap_short": OLAP_SHORT,
    "graph_iter": GRAPH_ITER,
    "llm_corpus": LLM_CORPUS,
}
WORKLOADS = (*BATCH, "stream_ingest")
GATED = ("olap_short", "graph_iter")

# Module family of each query, fixed here so that per-layer metric
# names stay the same if a query's code moves between modules.
FAMILY = {
    "tpch_q3_shipping_priority": "operators.analytics",
    "tpch_q18_large_orders": "operators.analytics",
    "tpch_q9_product_type_profit": "operators.tpch_more",
    "w_topk_per_group": "operators.relational",
    "j_asof_join": "operators.temporal",
    "st_session_window": "streaming.windows",
    "g_adamic_adar": "operators.graph",
    "g_triangle_count": "operators.graph",
    "g_pagerank_fixed": "operators.graph",
    # registered in ml.checks; the work is ml.pipelines.als_recommend
    "ml_als_recommend": "ml.pipelines",
    "corpus_prep_e2e": "functions.corpus",
    "d_minhash_lsh": "functions.dedup",
    "d_semantic_dedup_learned": "functions.similarity",
    "sim_lsh_multiprobe_ann": "functions.similarity",
    "t_tfidf_top_terms": "functions.text",
}

# Untimed passes between the checked warm-up pass and the timed ones.
# A new JVM keeps getting faster for about eight passes while the JIT
# compiles Spark's planner, codegen and scheduler paths: on 4 cores the
# olap_short pass fell from 6.6 s to 3.0 s and its JVM CPU from 14.5 s
# to 5.4 s. How fast it gets there follows the host, so timing passes on
# that slope made the run-to-run spread. A stream pass is long enough to
# warm the JVM by itself.
WARM_PASSES = {"olap_short": 4, "graph_iter": 6, "llm_corpus": 6, "stream_ingest": 0}

# Warm (steady-state) pass wall time on the 4-core machine the bounds
# were set on. ``--seconds`` is turned into a pass count with it, so
# every run (and every commit compared) times the same work: a
# time-boxed loop ran more passes on a fast minute.
PASS_S = {"olap_short": 3.1, "graph_iter": 2.1, "llm_corpus": 4.5, "stream_ingest": 45.0}

# Tables each workload's calls read (the traced run scans each once).
TABLES = {
    "olap_short": (
        "nation", "customer", "supplier", "part", "orders", "lineitem", "events",
    ),
    "graph_iter": ("orders", "lineitem"),
    "llm_corpus": ("documents", "embeddings"),
    "stream_ingest": ("documents", "embeddings", "events"),
}


def _build_edge(spark, data_dir: str) -> None:
    from mathorcup_spark.operators.graph import _bipartite_edges, _copurchase_oriented

    _copurchase_oriented(spark, data_dir)
    _bipartite_edges(spark, data_dir)


def _build_sig(spark, data_dir: str) -> None:
    from mathorcup_spark.functions.dedup import _mh_tables

    _mh_tables(spark, data_dir)


# sources.layout cache builds per workload, keyed by the per-layer
# metric suffix (sources.layout.build_s.<key>).
CACHE_BUILDS = {
    "olap_short": {},
    "graph_iter": {"edge": _build_edge},
    "llm_corpus": {"sig": _build_sig},
    "stream_ingest": {},
}


def tree_stats(path: str) -> tuple[int, int]:
    """(file count, bytes) of the data files under ``path``."""
    files = size = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            if not n.startswith((".", "_")):
                files += 1
                size += os.path.getsize(os.path.join(root, n))
    return files, size


class StreamIngest:
    """Three ``foreachBatch`` probe/append loops plus one tumbling-window
    aggregation, each driven by ``Trigger.AvailableNow`` over a seeded
    set of arrival files.

    Set-up builds the initial MinHash, LSH-ANN and verdict stores from
    the first 3/5 of the documents; every pass restores those stores
    and ingests the same arrivals, so passes repeat the same work.
    """

    INDEXES = ("minhash_index", "ann_index", "verdicts")
    N_BATCHES = 2

    def __init__(self, data_dir: str, work: str, seed: int):
        self.data_dir = data_dir
        self.work = work
        docs = pq.read_table(os.path.join(data_dir, "documents.parquet"))
        ids = docs.column("doc_id").to_numpy()
        cut = int(ids.max() * 3) // 5
        rng = np.random.default_rng(seed)
        rest = np.sort(ids[ids >= cut])
        arrivals = np.sort(rng.choice(rest, size=len(rest) * 4 // 5, replace=False))
        bounds = np.sort(rng.choice(np.arange(1, len(arrivals)), self.N_BATCHES - 1, replace=False))
        self.n_initial = int((ids < cut).sum())
        self.cut = cut
        self.arrival_ids = arrivals
        self.n_arrivals = len(arrivals)
        self.dirs = {
            "docs": os.path.join(work, "arrivals", "docs"),
            "emb": os.path.join(work, "arrivals", "emb"),
            "events": os.path.join(work, "arrivals", "events"),
        }
        emb = pq.read_table(os.path.join(data_dir, "embeddings.parquet"))
        events = pq.read_table(os.path.join(data_dir, "events.parquet"))
        events = events.set_column(
            events.schema.get_field_index("ts"),
            "ts",
            events.column("ts").cast(pa.timestamp("us", tz="UTC")),
        )
        self.n_events = events.num_rows
        for chunk_i, chunk in enumerate(np.split(arrivals, bounds)):
            self._write(docs, "doc_id", chunk, self.dirs["docs"], chunk_i)
            self._write(emb, "vec_id", chunk, self.dirs["emb"], chunk_i)
        ev_bounds = np.linspace(0, events.num_rows, self.N_BATCHES + 1).astype(int)
        for i in range(self.N_BATCHES):
            part = events.slice(ev_bounds[i], ev_bounds[i + 1] - ev_bounds[i])
            self._put(part, self.dirs["events"], i)
        self.pristine = os.path.join(work, "pristine")
        self.live = os.path.join(work, "live")
        self.n_pass = 0
        self.probe_counts: dict[str, list[int]] = {"minhash_index": [], "ann_index": []}

    @staticmethod
    def _put(table: pa.Table, out: str, i: int) -> None:
        os.makedirs(out, exist_ok=True)
        path = os.path.join(out, f"part-{i:03d}.parquet")
        pq.write_table(table, path)
        # the file source orders files by modification time
        os.utime(path, (1_700_000_000 + i, 1_700_000_000 + i))

    def _write(self, table, key, ids, out, i):
        mask = np.isin(table.column(key).to_numpy(), ids)
        self._put(table.filter(pa.array(mask)), out, i)

    # --- set-up ----------------------------------------------------------

    def store_builds(self) -> dict:
        """Build functions of the initial stores, keyed by store (``sources.<key>``)."""
        from pyspark.sql import functions as F

        from mathorcup_spark.catalog import load
        from mathorcup_spark.sources.ann_index import write_lsh_index
        from mathorcup_spark.sources.minhash_index import write_minhash_index
        from mathorcup_spark.sources.verdicts import create_verdict_table

        def initial(spark, table, key):
            return load(spark, self.data_dir, table).filter(F.col(key) < self.cut)

        def reset(spark, data_dir):
            shutil.rmtree(self.pristine, ignore_errors=True)
            write_minhash_index(
                spark, initial(spark, "documents", "doc_id"), self._store("minhash_index")
            )

        return {
            "minhash_index": reset,
            "ann_index": lambda spark, _d: write_lsh_index(
                initial(spark, "embeddings", "vec_id"), self._store("ann_index")
            ),
            "verdicts": lambda spark, _d: create_verdict_table(
                spark, initial(spark, "documents", "doc_id"), self._store("verdicts")
            ),
        }

    def _store(self, index: str) -> str:
        return os.path.join(self.pristine, index)

    # --- one pass --------------------------------------------------------

    def run_pass(self, spark, layer: dict[str, float]) -> list[tuple[str, float]]:
        """Ingest every arrival through all loops; return (loop/batch, wall)
        for every micro-batch.

        Adds the time spent in each engine call to ``layer`` and records
        the bytes and files each store gained.
        """
        from mathorcup_spark.catalog import SCHEMAS
        from mathorcup_spark.functions.dedup import _banded_sigs, shingles_from
        from mathorcup_spark.sources.ann_index import append_to_lsh_index, query_lsh_index
        from mathorcup_spark.sources.minhash_index import (
            _pb,
            append_to_minhash_index,
            probe_minhash_index,
        )
        from mathorcup_spark.sources.verdicts import append_to_verdict_table
        from mathorcup_spark.streaming.windows import tumbling_agg

        shutil.rmtree(self.live, ignore_errors=True)
        shutil.copytree(self.pristine, self.live)
        before = {i: tree_stats(os.path.join(self.live, i)) for i in self.INDEXES}
        sc = spark.sparkContext
        batches: list[tuple[str, float]] = []
        probes = {"minhash_index": 0, "ann_index": 0}

        def timed(key, fn):
            sc.setJobGroup(key, key)
            t = time.perf_counter()
            out = fn()
            layer[key] = layer.get(key, 0.0) + time.perf_counter() - t
            return out

        def minhash_body(batch_df, batch_id):
            t0 = time.perf_counter()
            index = os.path.join(self.live, "minhash_index")
            batch = batch_df.localCheckpoint(eager=True)

            def signatures():
                sh = shingles_from(spark, batch).localCheckpoint(eager=True)
                banded = _banded_sigs(sh).withColumn("pb", _pb()).localCheckpoint(eager=True)
                return sh, banded

            sh, banded = timed("functions.dedup.signature_s", signatures)
            probes["minhash_index"] += timed(
                "sources.minhash_index.probe_s",
                lambda: probe_minhash_index(
                    spark, index, batch, sh_new=sh, banded_new=banded
                ).count(),
            )
            timed(
                "sources.minhash_index.append_s",
                lambda: append_to_minhash_index(spark, index, batch, sh=sh, banded=banded),
            )
            batches.append((f"minhash/{batch_id}", time.perf_counter() - t0))

        def ann_body(batch_df, batch_id):
            t0 = time.perf_counter()
            index = os.path.join(self.live, "ann_index")
            batch = batch_df.localCheckpoint(eager=True)
            probes["ann_index"] += timed(
                "sources.ann_index.probe_s",
                lambda: query_lsh_index(spark, index, batch, k=1 << 30).count(),
            )
            timed("sources.ann_index.append_s", lambda: append_to_lsh_index(batch, index))
            batches.append((f"ann/{batch_id}", time.perf_counter() - t0))

        def verdict_body(batch_df, batch_id):
            t0 = time.perf_counter()
            batch = batch_df.localCheckpoint(eager=True)
            timed(
                "sources.verdicts.append_s",
                lambda: append_to_verdict_table(
                    spark, os.path.join(self.live, "verdicts"), batch
                ),
            )
            batches.append((f"verdicts/{batch_id}", time.perf_counter() - t0))

        ckpt = os.path.join(self.work, "ckpt", str(self.n_pass))
        self.n_pass += 1
        for name, src, schema, body in (
            ("minhash", self.dirs["docs"], SCHEMAS["documents"], minhash_body),
            ("ann", self.dirs["emb"], SCHEMAS["embeddings"], ann_body),
            ("verdicts", self.dirs["docs"], SCHEMAS["documents"], verdict_body),
        ):
            q = (
                spark.readStream.schema(schema)
                .option("maxFilesPerTrigger", 1)
                .parquet(src)
                .writeStream.foreachBatch(body)
                .option("checkpointLocation", os.path.join(ckpt, name))
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()

        sc.setJobGroup("streaming.windows", "streaming.windows")
        t = time.perf_counter()
        stream = (
            spark.readStream.schema(SCHEMAS["events"])
            .option("maxFilesPerTrigger", 1)
            .parquet(self.dirs["events"])
        )
        q = (
            tumbling_agg(stream.withWatermark("ts", "30 minutes"))
            .writeStream.outputMode("update")
            .format("noop")
            .option("checkpointLocation", os.path.join(ckpt, "windows"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        window_s = time.perf_counter() - t
        layer["streaming.windows.s"] = layer.get("streaming.windows.s", 0.0) + window_s
        batches.extend(
            (f"windows/{p['batchId']}", p["durationMs"]["triggerExecution"] / 1000.0)
            for p in q.recentProgress
            if p["numInputRows"] > 0
        )
        sc.setJobGroup(None, None)
        for idx in self.INDEXES:
            files, size = tree_stats(os.path.join(self.live, idx))
            layer[f"sources.{idx}.files"] = float(files)
            layer[f"sources.{idx}.bytes_added"] = (
                layer.get(f"sources.{idx}.bytes_added", 0.0) + size - before[idx][1]
            )
        for k, v in probes.items():
            self.probe_counts[k].append(v)
        return batches

    def layers(self, acc: dict[str, float], n: int, pass_s: float) -> dict[str, float]:
        """Per-pass layer values from ``n`` passes' accumulated timers."""
        out = {k: v / n for k, v in acc.items() if k.endswith("_s") and k != "streaming.windows.s"}
        krows = self.n_arrivals / 1000
        for i in self.INDEXES:
            out[f"sources.{i}.files"] = acc[f"sources.{i}.files"]
            out[f"sources.{i}.mb_per_krow"] = acc[f"sources.{i}.bytes_added"] / n / 1e6 / krows
        out["streaming.windows.rows_per_s"] = self.n_events * n / acc["streaming.windows.s"]
        out["stream.ingest_rows_per_s"] = (3 * self.n_arrivals + self.n_events) / pass_s
        out["registry.accounted_frac"] = sum(
            v for k, v in acc.items() if k.endswith("_s")
        ) / (pass_s * n)
        return out

    # --- correctness -----------------------------------------------------

    def check(self, spark) -> list[str]:
        """Failures of the live stores after the last pass (empty = correct).

        The maintained verdict table must equal a one-shot
        ``build_verdicts_frozen`` over initial + arrived documents, each
        index must hold exactly initial + arrived rows, and every pass
        must have found the same number of probe matches.
        """
        from pyspark.sql import functions as F

        from mathorcup_spark.catalog import load
        from mathorcup_spark.sources.verdicts import (
            build_verdicts_frozen,
            read_incremental_verdicts,
            verdict_sig,
        )

        fails = []
        v_dir = os.path.join(self.live, "verdicts")
        docs = load(spark, self.data_dir, "documents")
        seen = docs.filter(
            (F.col("doc_id") < self.cut) | F.col("doc_id").isin([int(i) for i in self.arrival_ids])
        )
        oneshot = build_verdicts_frozen(spark, seen, spark.read.parquet(f"{v_dir}/eval"))
        if verdict_sig(read_incremental_verdicts(spark, v_dir)) != verdict_sig(oneshot):
            fails.append("verdicts: maintained table != one-shot rebuild")
        want = self.n_initial + self.n_arrivals
        mh = os.path.join(self.live, "minhash_index")
        got = {
            "minhash_index": spark.read.parquet(f"{mh}/shingles").select("doc_id").distinct().count(),
            "minhash_index.meta": int(spark.read.parquet(f"{mh}/meta").first()["n_docs"]),
            "ann_index": spark.read.parquet(
                os.path.join(self.live, "ann_index", "vectors")
            ).count(),
        }
        fails += [f"{k}: {v} rows, want {want}" for k, v in got.items() if v != want]
        for k, counts in self.probe_counts.items():
            if len(set(counts)) > 1:
                fails.append(f"{k}: probe matches differ between passes {counts}")
        return fails
