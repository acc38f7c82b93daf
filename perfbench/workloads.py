"""The benchmark workloads: each drives the engine's public entry points
with seeded inputs, one client thread, closed loop.

A workload object has four steps, called by ``run.py`` in order:

- ``prepare(rep)`` generates inputs into a fresh directory (and, for
  ``ann_serve``, builds the index). Set-up runs it ``setup_reps`` times
  and keeps the last.
- ``op(kind)`` is one timed operation of a kind from ``CYCLE``; it
  returns the items it processed. The timed window runs whole cycles.
  With tracing on, the same call also records per-layer spans.
- ``check()`` runs the correctness checks, outside the timed window,
  and returns ``(name, ok, detail)`` triples.
- ``layers()`` gives the per-layer metrics of a traced run.
"""

from __future__ import annotations

import glob
import hashlib
import json
import math
import os
import random
import statistics
import time
from collections import Counter

import gen
import numpy as np
from pyspark.sql import functions as F

# Per-layer metrics every traced run reports; a workload reports 0 for
# the layers of the other workload.
COMMON_LAYERS = (
    "session.get_spark_s",
    "trace.jobs",
    "trace.stages",
    "trace.tasks",
    "trace.failed_tasks",
    "trace.overhead_s",
)


def noop(df) -> None:
    """Materialize a frame without keeping or writing its rows."""
    df.write.format("noop").mode("overwrite").save()


def _dir_stats(*paths: str) -> tuple[int, int]:
    """(data files, bytes) under written parquet directories."""
    files = [
        f for p in paths for f in glob.glob(os.path.join(p, "**", "*.parquet"), recursive=True)
    ]
    return len(files), sum(os.path.getsize(f) for f in files)


def _norm_cell(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else float(f"{v:.9g}")
    if hasattr(v, "isoformat"):
        return v.isoformat()
    return v


def result_hash(cols: list[str], rows) -> str:
    """Order-insensitive hash of a result: columns sorted by name,
    floats rounded to 9 significant digits."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    norm = sorted(
        json.dumps([_norm_cell(r[i]) for i in order], default=str) for r in rows
    )
    h = hashlib.sha256(json.dumps([cols[i] for i in order]).encode())
    for line in norm:
        h.update(line.encode())
    return h.hexdigest()


class Workload:
    name = ""
    CYCLE: tuple[str, ...] = ()  # operation kinds of one whole cycle
    primary = ""  # the operation kind whose latency is op_p50_s
    LAYERS: tuple[str, ...] = ()
    setup_reps = 3

    def __init__(self, ctx):
        self.ctx = ctx  # run.Context: spark, tracer, seed, tmp
        self.spark = ctx.spark
        self.tr = ctx.tracer
        self.detail: dict = {}  # extra fields for the run's detail record


# ---------------------------------------------------------------------------


class NightlyBatch(Workload):
    """The batch tier as a scheduled job runs it: a fresh process makes
    one pass of the paper's soccer ETL, a set of registry star queries
    over warehouse tables, and an LLM-tier corpus build, writing every
    output. The pass is timed cold, as each scheduled run pays it."""

    name = "nightly_batch"
    CYCLE = ("batch",)
    primary = "batch"
    # 48 league codes x 3 seasons, 18 or 20 teams per league: the
    # reference pipeline's data scale (BASELINE.md, "Data scale").
    SOCCER = {"n_leagues": 48, "n_seasons": 3, "team_counts": (18, 20)}
    STAR_QUERIES = ("tpch_q5_shape", "window_function_zoo")
    STAR_TABLES = ("region", "nation", "customer", "supplier", "orders", "lineitem")
    N_ORDERS = 12000
    N_DOCS = 400
    REASONS = ("keep", "drop_quality", "drop_exact_dup", "drop_near_dup",
               "drop_verbatim_overlap", "drop_semantic")
    LAYERS = (
        "sources.json_source.scan_s",
        "sources.json_source.docs",
        "sources.json_source.quarantined",
        "sources.lookup.build_s",
        "operators.normalize.self_s",
        "operators.aggregates.self_s",
        "sources.sinks.write_s",
        "sources.sinks.files",
        "sources.sinks.bytes_per_input_byte",
        "sources.parquet_source.scan_s",
    ) + tuple(f"plans.{q}_s" for q in STAR_QUERIES) + (
        "operators.dedup.pairs_s",
        "operators.corpus.clean_s",
        "operators.semdedup.self_s",
        "corpus_pipeline.plan_s",
        "corpus_pipeline.write_s",
        "corpus_pipeline.useful_ratio",
    ) + tuple(f"corpus_pipeline.decisions.{r}" for r in REASONS)

    def prepare(self, rep: int) -> None:
        root = os.path.join(self.ctx.tmp, f"in{rep}")
        seed = self.ctx.seed
        self.tree = gen.soccer_tree(os.path.join(root, "raw"), seed, **self.SOCCER)
        self.sf = os.path.join(root, "star")
        self.star_rows = gen.star_tables(self.sf, seed, self.N_ORDERS)
        self.c = gen.corpus(os.path.join(root, "corpus"), seed, self.N_DOCS)
        self.star_order = list(self.STAR_QUERIES)
        random.Random(seed).shuffle(self.star_order)
        self.out = os.path.join(self.ctx.tmp, "out")

    def op(self, kind: str) -> int:
        parts = self.detail.setdefault("parts_s", {})
        for part in (self._soccer, self._star, self._corpus):
            t = time.perf_counter()
            part()
            parts.setdefault(part.__name__[1:], []).append(time.perf_counter() - t)
        # input records of the pass: raw matches, star fact rows, documents
        facts = sum(self.star_rows[t] for t in ("orders", "lineitem"))
        return self.tree.expected_matches + facts + self.c.n_docs

    def _soccer(self) -> None:
        from soccer_data_pipeline_spark.pipeline import run_soccer_etl
        from soccer_data_pipeline_spark.sources.json_source import read_matches_raw
        from soccer_data_pipeline_spark.sources.lookup import leagues_from_pairs, team_aliases
        from soccer_data_pipeline_spark.sources.sinks import write_staging

        tr, spark, tree = self.tr, self.spark, self.tree
        with tr.span("sources.lookup.build"):
            leagues = leagues_from_pairs(spark, tree.leagues)
            aliases = team_aliases(spark, tree.aliases)
        with tr.span("pipeline.run_soccer_etl"):
            out = run_soccer_etl(spark, tree.root, leagues, aliases, source_commit="bench")
        with tr.span("sources.sinks.write"):  # executes the whole lazy chain
            write_staging(out.matches_normalized, os.path.join(self.out, "matches"))
            out.season_results.write.mode("overwrite").parquet(
                os.path.join(self.out, "season_results")
            )
        if tr.enabled:  # stage boundaries, materialized one prefix at a time
            with tr.span("sources.json_source.scan", extra=True):
                noop(read_matches_raw(spark, tree.root))
            with tr.span(
                "operators.normalize", prefix=("sources.json_source.scan",), extra=True
            ):
                noop(out.matches_normalized)
            # the season tables read only some normalized columns, so
            # their chain is cheaper than the full normalized frame:
            # subtract the scan alone
            with tr.span(
                "operators.aggregates", prefix=("sources.json_source.scan",), extra=True
            ):
                noop(out.season_results)
        self.soccer_out = out

    def _star(self) -> None:
        from soccer_data_pipeline_spark.plans import QUERIES
        from soccer_data_pipeline_spark.sources.parquet_source import load_table

        for q in self.star_order:
            with self.tr.span(f"plans.{q}"):
                QUERIES[q].fn(self.spark, self.sf).write.mode("overwrite").parquet(
                    os.path.join(self.out, "star", q)
                )
        if self.tr.enabled:
            with self.tr.span("sources.parquet_source.scan", extra=True):
                for t in self.STAR_TABLES:
                    noop(load_table(self.spark, self.sf, t))

    def _corpus(self) -> None:
        from soccer_data_pipeline_spark.corpus_pipeline import run_corpus_build
        from soccer_data_pipeline_spark.operators.corpus import clean_decisions
        from soccer_data_pipeline_spark.operators.dedup import (
            minhash_near_dup_pairs,
            winnowing_pairs,
        )
        from soccer_data_pipeline_spark.operators.semdedup import semantic_actions

        tr, spark, c = self.tr, self.spark, self.c
        docs = spark.read.parquet(c.docs_path)
        emb = spark.read.parquet(c.emb_path)
        with tr.span("corpus_pipeline.plan"):  # runs the eager dedup tiers
            out = run_corpus_build(docs, embeddings=emb)
        with tr.span("corpus_pipeline.write"):
            out.corpus.write.mode("overwrite").partitionBy("split").parquet(
                os.path.join(self.out, "corpus")
            )
            out.decisions.write.mode("overwrite").parquet(
                os.path.join(self.out, "decisions")
            )
        if tr.enabled:  # the build's stages, each materialized on its own
            with tr.span("operators.dedup", extra=True):
                # clean_decisions' two evidence tiers at its defaults
                noop(minhash_near_dup_pairs(docs, n=3, k=16, bands=4, threshold=0.5,
                                            max_bucket_size=50))
                noop(winnowing_pairs(docs.select("doc_id", "text"), k=16, w=8,
                                     df_cap=50, min_shared=2))
            # cleaning runs the two tiers concurrently, so its span is
            # shorter than theirs back to back: it is reported whole
            with tr.span("operators.corpus.clean", extra=True):
                dec = clean_decisions(docs)
                noop(dec)
            with tr.span(
                "operators.semdedup", prefix=("operators.corpus.clean",), extra=True
            ):
                kept = dec.where(F.col("decision") == "keep").select(
                    F.col("doc_id").alias("vec_id")
                )
                noop(semantic_actions(emb.join(kept, "vec_id", "left_semi")))

    def check(self):
        return self._check_soccer() + self._check_star() + self._check_corpus()

    def _check_soccer(self):
        tree, spark = self.tree, self.spark
        m = spark.read.parquet(os.path.join(self.out, "matches"))
        s = spark.read.parquet(os.path.join(self.out, "season_results"))
        n_matches = m.count()
        n_quar = self.soccer_out.quarantine.count()
        champs = s.groupBy("league", "season").agg(
            F.sum(F.col("is_champion").cast("int")).alias("c")
        ).collect()
        points = s.agg(F.sum("points")).first()[0]
        want_points = 3 * tree.decisive + 2 * tree.drawn
        return [
            ("match_count", n_matches == tree.expected_matches,
             f"{n_matches} vs {tree.expected_matches}"),
            ("quarantine_count", n_quar == tree.expected_quarantined,
             f"{n_quar} vs {tree.expected_quarantined}"),
            ("one_champion_per_season",
             len(champs) == tree.expected_seasons and all(r.c == 1 for r in champs),
             f"{len(champs)} seasons vs {tree.expected_seasons}"),
            ("points_sum", points == want_points, f"{points} vs {want_points}"),
        ]

    def _check_star(self):
        """Each written query result against DuckDB on the query's
        registered oracle SQL over the same tables."""
        import duckdb

        from soccer_data_pipeline_spark.plans import QUERIES

        con = duckdb.connect()
        for t in self.STAR_TABLES:
            path = os.path.join(self.sf, f"{t}.parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        out = []
        for q in self.STAR_QUERIES:
            df = self.spark.read.parquet(os.path.join(self.out, "star", q))
            rows = df.collect()
            mine = result_hash(df.columns, rows)
            rel = con.sql(QUERIES[q].oracle)
            theirs = result_hash(list(rel.columns), rel.fetchall())
            out.append((f"oracle_{q}", mine == theirs and len(rows) > 0, f"{len(rows)} rows"))
        con.close()
        return out

    def _check_corpus(self):
        c, spark = self.c, self.spark
        corpus = spark.read.parquet(os.path.join(self.out, "corpus"))
        dec = spark.read.parquet(os.path.join(self.out, "decisions"))
        ids = {r.doc_id for r in corpus.select("doc_id").collect()}
        self.counts = Counter(r.decision for r in dec.collect())
        n_dec_ids = dec.select("doc_id").distinct().count()
        return [
            ("decisions_cover_inputs", n_dec_ids == c.n_docs == sum(self.counts.values()),
             f"{n_dec_ids} vs {c.n_docs}"),
            ("corpus_equals_keeps", len(ids) == self.counts["keep"],
             f"{len(ids)} vs {self.counts['keep']}"),
            ("exact_dups_dropped", not ids & set(c.exact_dups), f"{len(c.exact_dups)} injected"),
        ]

    def layers(self) -> dict:
        from soccer_data_pipeline_spark.sources.json_source import read_matches_raw

        tr = self.tr
        soccer_dirs = [os.path.join(self.out, d) for d in ("matches", "season_results")]
        files, out_bytes = _dir_stats(*soccer_dirs)
        d = {
            "sources.json_source.scan_s": tr.per_op("sources.json_source.scan"),
            "sources.json_source.docs": read_matches_raw(self.spark, self.tree.root).count(),
            "sources.json_source.quarantined": self.soccer_out.quarantine.count(),
            "sources.lookup.build_s": tr.per_op("sources.lookup.build"),
            "operators.normalize.self_s": tr.per_op("operators.normalize"),
            "operators.aggregates.self_s": tr.per_op("operators.aggregates"),
            "sources.sinks.write_s": tr.per_op("sources.sinks.write"),
            "sources.sinks.files": files,
            "sources.sinks.bytes_per_input_byte": out_bytes / self.tree.input_bytes,
            "sources.parquet_source.scan_s": tr.per_op("sources.parquet_source.scan"),
            "operators.dedup.pairs_s": tr.per_op("operators.dedup"),
            "operators.corpus.clean_s": tr.per_op("operators.corpus.clean"),
            "operators.semdedup.self_s": tr.per_op("operators.semdedup"),
            "corpus_pipeline.plan_s": tr.per_op("corpus_pipeline.plan"),
            "corpus_pipeline.write_s": tr.per_op("corpus_pipeline.write"),
            "corpus_pipeline.useful_ratio": self.counts["keep"] / self.c.n_docs,
        }
        for q in self.STAR_QUERIES:
            d[f"plans.{q}_s"] = tr.per_op(f"plans.{q}")
        for r in self.REASONS:
            d[f"corpus_pipeline.decisions.{r}"] = self.counts[r]
        return d


# ---------------------------------------------------------------------------


class AnnServe(Workload):
    """Serving from a persisted IVF-PQ index: skewed query batches, each
    after a write of another kind (append, delete, compaction)."""

    name = "ann_serve"
    # each search reads an index a write has just changed; every write
    # kind runs once per cycle
    CYCLE = ("append", "search", "delete", "search", "compact", "search")
    primary = "search"
    LAYERS = (
        "index_pipeline.build_s",
        "operators.similarity.probe_cells_s",
        "index_pipeline.load_index_s",
        "operators.similarity.ivfpq_search_s",
        "index_pipeline.cells_probed_ratio",
        "index_pipeline.append_s",
        "index_pipeline.delete_s",
        "index_pipeline.compact_s",
        "index_pipeline.index_files",
        "index_pipeline.write_p50_s",
        "index_pipeline.recall_at_5",
    )
    N_BASE = 4000
    DIM = 64
    BUILD = {"n_centroids": 8, "m": 4, "n_codes": 16}
    N_PROBE = 4
    K = 5
    QUERIES = 32  # per query batch
    READ_YOUR_WRITES = 4  # queries per batch that are the latest appended vectors
    APPEND = 64  # vectors per append
    DELETE = 8  # ids per delete
    RECALL_FLOOR = 0.8  # run_ann_index_build's default recall gate
    setup_reps = 1  # one index build and warm-up search: ~25 s per repetition

    def prepare(self, rep: int) -> None:
        from soccer_data_pipeline_spark.index_pipeline import run_ann_index_build

        root = os.path.join(self.ctx.tmp, f"ann{rep}")
        self.v = gen.vectors(root, self.ctx.seed, self.N_BASE, self.DIM)
        self.base_dir = os.path.dirname(self.v.base_path)
        self.append_dir = os.path.join(root, "appends")
        self.ckpt = os.path.join(root, "stream_ckpt")
        self.idx = os.path.join(root, "index")
        with self.tr.span("index_pipeline.build"):
            run_ann_index_build(self.spark.read.parquet(self.base_dir), self.idx, **self.BUILD)
        self.next_id = 10**9  # query and appended ids never collide with base ids
        self.vecs = {i: x for i, x in enumerate(self.v.base)}  # every indexed vector
        self.appended: list[int] = []
        self.deleted: set[int] = set()
        self.rng = random.Random(self.ctx.seed)
        self.served: list[tuple] = []  # (query ids, vectors, rows, own ids, live ids)
        self.probed_ratio: list[float] = []
        # a service warms its read path before it takes traffic
        ids, x = gen.query_batch(self.v, self.next_id, self.QUERIES)
        self.next_id += self.QUERIES
        self._search(ids, x)

    def _corpus(self):
        paths = [self.base_dir] + ([self.append_dir] if self.appended else [])
        return self.spark.read.parquet(*paths)

    def _search(self, ids, x):
        from soccer_data_pipeline_spark.index_pipeline import (
            ann_index_search,
            load_ann_index,
            load_ann_quantizers,
        )
        from soccer_data_pipeline_spark.operators.similarity import (
            ivfpq_search,
            probe_cell_ids,
        )

        q = self.spark.createDataFrame(
            [(int(a), [float(y) for y in r]) for a, r in zip(ids, x)],
            "vec_id bigint, embedding array<float>",
        )
        if not self.tr.enabled:
            return ann_index_search(
                q, self._corpus(), self.idx, k=self.K, n_probe=self.N_PROBE
            ).collect()
        # traced: the same serving path, one layer call per span
        tr = self.tr
        coarse, models, config = load_ann_quantizers(self.idx)
        with tr.span("operators.similarity.probe_cells"):
            cells = probe_cell_ids(q, coarse, self.N_PROBE)
        self.probed_ratio.append(len(cells) / self.BUILD["n_centroids"])
        with tr.span("index_pipeline.load_index", extra=True):
            index = load_ann_index(self.spark, self.idx, cells=cells)
            noop(index)
        with tr.span("operators.similarity.ivfpq_search", prefix=("index_pipeline.load_index",)):
            return ivfpq_search(
                q, index, self._corpus(), coarse, models, k=self.K,
                n_probe=self.N_PROBE, residual=bool(config["residual"]),
            ).collect()

    def _write(self, kind: str) -> None:
        from soccer_data_pipeline_spark.index_pipeline import (
            compact_index_cells,
            delete_ids,
            run_streaming_index_updates,
        )

        with self.tr.span(f"index_pipeline.{kind}"):
            if kind == "append":
                t, x = gen.append_batch(self.v, self.next_id, self.APPEND)
                gen.write_parquet(
                    t, os.path.join(self.append_dir, f"part-{self.next_id}.parquet")
                )
                run_streaming_index_updates(self.spark, self.append_dir, self.idx, self.ckpt)
                new = list(range(self.next_id, self.next_id + self.APPEND))
                self.vecs.update(zip(new, x))
                self.appended += new
                self.next_id += self.APPEND
            elif kind == "delete":
                ids = self.rng.sample(range(self.N_BASE), self.DELETE)
                delete_ids(self.spark, self.idx, ids)
                self.deleted.update(ids)
            else:
                compact_index_cells(self.spark, self.idx)

    def op(self, kind: str) -> int:
        if kind != "search":
            self._write(kind)
            return 0
        ids, x = gen.query_batch(self.v, self.next_id, self.QUERIES)
        self.next_id += self.QUERIES
        # the last few queries look up vectors the latest append wrote
        own = self.appended[-self.READ_YOUR_WRITES:]
        x[len(x) - len(own):] = [self.vecs[i] for i in own]
        rows = self._search(ids, x)
        live = sorted(set(self.vecs) - self.deleted)
        self.served.append((ids, x, [(r.query_id, r.candidate_id) for r in rows], own, live))
        return self.QUERIES

    def _exact_top(self, x, live) -> list[list[int]]:
        """Exact cosine top-k over the live vectors, ties to the smaller
        id: the definition of ``brute_force_topk``, computed without
        Spark."""
        ids = np.asarray(live)
        c = np.stack([self.vecs[i] for i in live]).astype(np.float64)
        c /= np.linalg.norm(c, axis=1, keepdims=True)
        q = np.asarray(x, dtype=np.float64)
        q /= np.linalg.norm(q, axis=1, keepdims=True)
        sims = q @ c.T
        return [
            ids[np.lexsort((ids, -row))[: self.K]].tolist() for row in sims
        ]

    def check(self):
        """Every timed query batch, after the window: recall@5 of its
        held-out queries against the exact top-5 over the vectors live
        when it ran; no deleted id or short result; each read-your-writes
        query finds the appended vector it looks up."""
        hits = total = short = stale = found = wanted = 0
        for ids, x, rows, own, live in self.served:
            got: dict[int, set[int]] = {}
            for qid, cid in rows:
                got.setdefault(qid, set()).add(cid)
            held = len(ids) - len(own)
            for qid, want in zip(ids[:held], self._exact_top(x[:held], live)):
                hits += len(got.get(int(qid), set()) & set(want))
                total += self.K
            short += sum(len(got.get(int(q), ())) != self.K for q in ids)
            stale += len({cid for _, cid in rows} - set(live))
            for qid, vid in zip(ids[held:], own):
                wanted += 1
                found += vid in got.get(int(qid), set())
        self.recall = hits / total
        return [
            ("recall_at_5_floor", self.recall >= self.RECALL_FLOOR,
             f"{self.recall:.4f} vs floor {self.RECALL_FLOOR} over {total // self.K} queries"),
            ("no_deleted_or_short_results", short == 0 and stale == 0,
             f"{short} short results, {stale} deleted ids returned"),
            ("appended_ids_served", found == wanted > 0,
             f"{found} of {wanted} read-your-writes queries found their vector"),
        ]

    def layers(self) -> dict:
        tr = self.tr
        writes = [
            s["dur_s"] for s in tr.self_times()
            if s["name"] in ("index_pipeline.append", "index_pipeline.delete",
                             "index_pipeline.compact") and s["op"] >= 0
        ]
        return {
            "index_pipeline.build_s": tr.per_op("index_pipeline.build"),
            "operators.similarity.probe_cells_s": tr.per_op("operators.similarity.probe_cells"),
            "index_pipeline.load_index_s": tr.per_op("index_pipeline.load_index"),
            "operators.similarity.ivfpq_search_s": tr.per_op("operators.similarity.ivfpq_search"),
            "index_pipeline.cells_probed_ratio": statistics.median(self.probed_ratio),
            "index_pipeline.append_s": tr.per_op("index_pipeline.append"),
            "index_pipeline.delete_s": tr.per_op("index_pipeline.delete"),
            "index_pipeline.compact_s": tr.per_op("index_pipeline.compact"),
            "index_pipeline.index_files": _dir_stats(os.path.join(self.idx, "index"))[0],
            "index_pipeline.write_p50_s": statistics.median(writes) if writes else 0.0,
            "index_pipeline.recall_at_5": self.recall,
        }


WORKLOADS = {w.name: w for w in (NightlyBatch, AnnServe)}
BENCHMARK_LAYERS = COMMON_LAYERS + tuple(m for w in WORKLOADS.values() for m in w.LAYERS)
