"""[beyond-ref] End-to-end training-corpus build — the LLM-tier analog
of ``pipeline.run_soccer_etl``: from a raw documents frame to the
training-ready artifact frames.

    clean (quality → exact dedup → near-dup + verbatim-overlap clusters)
      → decontaminate (optional: benchmark n-gram overlap)
      → semantic dedup (optional: SemDeDup over the docs' embeddings)
      → select (optional: budgeted keep set under a token budget,
                quality-score or DSIR-weight ranked)
      → split (hash-deterministic train/val/test)
      → leakage repair (optional: quarantine held-out docs sharing
                        train n-grams)
      → shard (md5-bucket output sharding)
      → manifest (per split × shard audit)

Every stage is the same operator the registered queries hash-check
individually (``corpus_clean_decisions``, ``train_val_test_split``,
``shard_manifest``), so the composition inherits their oracle
coverage; the integration test additionally asserts the composed
decisions are row-identical to the registered query's.

Materialized-ledger contract. The build is driven by ONE
``(doc_id, decision)`` ledger: cleaning's decisions are materialized
once (eager ``localCheckpoint``), each optional stage reads its input
as ``docs``/``embeddings`` left-semi-joined to the ledger's keep ids,
its per-doc action ledger is materialized once, and its drop reason
folds into a re-materialized ledger (:func:`_fold`). So the stages run
their eager jobs inside :func:`run_corpus_build`, and no consumer
(a later stage, the corpus write, the decisions write) re-executes an
earlier stage's lineage: ``decisions`` IS the final ledger (writing it
is one scan job) and ``corpus`` reads only ``docs`` and that ledger.
Only doc-count-sized frames are materialized — the ledgers and the
action frames, never text or vectors (``operators/cache.py`` forbids
corpus-sized checkpoints). ``corpus`` and ``manifest`` stay lazy: the
caller writes ``corpus.repartition("shard_id").write.partitionBy(
"split", ...)`` so each output shard is one task's sequential write.

Block ownership follows ``cache.materialize_owned``: the checkpoint
blocks are GC-owned — Spark's ContextCleaner drops them once the
returned frames are dropped, or the caller's unit-of-work
``release_session_blocks`` boundary does. Nothing here unpersists a
ledger: a localCheckpoint's lineage is truncated, so a returned frame
reading released blocks could not be recomputed.

Determinism is end-to-end: every assignment is a pure function of
doc_id/text, so a re-run (or a backfill at 100 TB) reproduces
byte-identical shards.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .operators.cache import materialize_owned


def md5_bucket(col, mod: int):
    """Deterministic integer bucket in [0, mod) from any key column —
    the split/sampling/shard family's hash (first 16 bits of md5 of the
    key's string form; engine-portable, seed-free, stable across
    re-executions by construction)."""
    return (
        F.conv(F.substring(F.md5(col.cast("string")), 1, 4), 16, 10).cast("long")
        % mod
    )


def _kept(frame: DataFrame, ledger: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """``frame`` restricted to the ledger's keep ids (joined on ``id_col``).

    The keep ids ride a broadcast (8 bytes per kept doc): a checkpoint
    carries its source plan's size estimate, and the left joins behind
    every ledger multiply that estimate out, so unhinted the planner
    picks a sort-merge join and shuffles ``frame`` — the docs' text or
    the embedding vectors — for every stage input and output."""
    keep = ledger.where(F.col("decision") == "keep").select(
        F.col("doc_id").alias(id_col)
    )
    return frame.join(F.broadcast(keep), id_col, "left_semi")


def _fold(ledger: DataFrame, dropped: DataFrame, reason: str) -> DataFrame:
    """Fold one stage's drops into the ledger and re-materialize it:
    the rows whose doc_id is in ``dropped`` read ``reason``. Every stage
    acts on the current keep set only, so only 'keep' rows change and
    an earlier stage's drop reason stands; ``dropped`` is a subset of
    the keep ids, so it broadcasts for the reason :func:`_kept` gives."""
    hit = dropped.select("doc_id").withColumn("_hit", F.lit(True))
    return materialize_owned(
        ledger.join(F.broadcast(hit), "doc_id", "left").select(
            "doc_id",
            F.when(F.coalesce(F.col("_hit"), F.lit(False)), reason)
            .otherwise(F.col("decision"))
            .alias("decision"),
        )
    )


@dataclass
class CorpusBuildOutputs:
    # (doc_id, decision) — every input doc, keep/drop + reason. Under
    # token_budget the budget cut folds in as 'drop_budget' (ADVICE r9),
    # so corpus-count == decisions-keep-count holds unconditionally.
    decisions: DataFrame
    corpus: DataFrame  # kept docs + (split, shard_id) assignment columns
    manifest: DataFrame  # per (split, shard_id): n_docs, total_chars
    selection: DataFrame | None = None  # budgeted-selection ledger (token_budget runs)
    leakage: DataFrame | None = None  # split-leakage actions (leakage_ngram runs)
    contamination: DataFrame | None = None  # decontamination actions (benchmark runs)
    semantic: DataFrame | None = None  # SemDeDup actions (embeddings runs)


def run_corpus_build(
    docs: DataFrame,
    n_shards: int = 16,
    train_pct: int = 80,
    val_pct: int = 10,
    order_seed: str | None = None,
    token_budget: int | None = None,
    leakage_ngram: int | None = None,
    benchmark: DataFrame | None = None,
    contamination_ngram: int = 5,
    embeddings: DataFrame | None = None,
    semantic_tau: float = 0.35,
    selection: str = "quality",
    dsir_target_sources: tuple[str, ...] = ("src0", "src1", "src2", "src3"),
    **clean_kwargs,
) -> CorpusBuildOutputs:
    """Run the corpus build's stages and return its output frames.

    Runs every stage's eager jobs and materializes the decisions ledger
    and the action frames (see the module docstring); ``corpus`` and
    ``manifest`` are lazy over ``docs`` and the final ledger — the
    caller writes them.

    ``docs`` needs (doc_id, text, n_chars); ``clean_kwargs`` pass
    through to :func:`operators.corpus.clean_decisions` (minhash
    config, quality thresholds).

    ``order_seed`` (optional) adds a ``train_order`` column — the
    kept-corpus-wide deterministic shuffle position from
    :func:`operators.corpus.shuffle_order` — so a training loader
    streams each shard ORDER BY train_order and the epoch order is
    reproducible on any cluster (re-seeding re-shuffles; sharding
    stays put, so only the read order changes between experiments).

    ``token_budget`` (optional, VERDICT r8 #4) adds a SELECTION stage
    between cleaning and splitting: the post-clean docs are ranked by
    ``selection`` ("quality" = the integer per-mille score whose
    threshold↔token-budget curve ``quality_selection_curve`` publishes;
    "dsir" = the DSIR importance log-weight of
    ``dsir_importance_weights`` against ``dsir_target_sources``) and
    kept greedily best-first while the inclusive cumulative token count
    stays within the budget (doc-granular, two-phase prefix sum — see
    :func:`operators.corpus.budget_select`). Deterministic: pure
    function of (text, doc_id), so re-runs reproduce the identical
    kept set. The per-doc ledger lands in ``outputs.selection``, and
    the cut also folds into ``outputs.decisions`` as ``drop_budget``
    (precedence after the cleaning reasons — selection only ever
    rewrites 'keep' rows), so decisions remains the single
    authoritative keep/drop ledger.

    ``leakage_ngram`` (optional, VERDICT r9 #4) adds a LEAKAGE-REPAIR
    stage after split assignment: held-out (val/test) docs sharing at
    least one word ``leakage_ngram``-gram verbatim with any train doc
    are QUARANTINED (dropped from the corpus, folded into decisions as
    ``quarantine_leakage``) — the action stage for the
    ``split_ngram_leakage`` audit. One-pass-sound: the train side
    never changes, so the repaired corpus re-audits at leak_share = 0
    by construction (asserted end-to-end in tests). The per-doc action
    ledger lands in ``outputs.leakage``.

    ``benchmark`` (optional, r10) adds a DECONTAMINATION stage right
    after cleaning: corpus docs sharing at least one word
    ``contamination_ngram``-gram with any benchmark doc are dropped
    (folded into decisions as ``drop_contaminated``) — the action
    stage for the ``benchmark_contamination`` audit, placed BEFORE
    selection so contaminated docs never consume token budget. The
    per-doc action ledger lands in ``outputs.contamination``.

    ``embeddings`` (optional, r12 — VERDICT r11 #2) adds a SEMANTIC
    DEDUP stage after decontamination: SemDeDup keeper/drop decisions
    (operators/semdedup.semantic_actions — the code path the
    ``semantic_dedup_repair`` differential hash-checks) over the KEPT
    docs' embeddings, joined via the doc_id↔vec_id correspondence;
    non-keeper dup-cluster members are dropped (folded into decisions
    as ``drop_semantic``), placed BEFORE selection so semantic
    duplicates never consume token budget. The per-doc action ledger
    lands in ``outputs.semantic``. Post-action the corpus re-audits
    clean under the same learned cell assignment (asserted end-to-end
    in tests).
    """
    from .operators.corpus import (
        budget_select,
        clean_decisions,
        contamination_actions,
        dsir_log_weights,
        quality_pm,
        shuffle_order,
        split_leakage_actions,
    )

    ledger = materialize_owned(clean_decisions(docs, **clean_kwargs))
    contamination_df = None
    if benchmark is not None:
        contamination_df = materialize_owned(
            contamination_actions(
                _kept(docs, ledger), benchmark, n=contamination_ngram
            )
        )
        ledger = _fold(
            ledger,
            contamination_df.where(F.col("action") == "drop_contaminated"),
            "drop_contaminated",
        )
    semantic_df = None
    if embeddings is not None:
        from .operators.semdedup import semantic_actions

        vecs = _kept(embeddings, ledger, id_col="vec_id")
        semantic_df = materialize_owned(
            semantic_actions(vecs, tau=semantic_tau).select(
                F.col("vec_id").alias("doc_id"), "action"
            )
        )
        ledger = _fold(
            ledger,
            semantic_df.where(F.col("action") == "drop_semantic"),
            "drop_semantic",
        )
    selection_df = None
    if token_budget is not None:
        kept = _kept(docs, ledger)
        if selection == "quality":
            scored = quality_pm(kept)
        elif selection == "dsir":
            scored = dsir_log_weights(kept, dsir_target_sources).select(
                "doc_id",
                F.col("n_tokens").alias("n_tok"),
                F.col("w").alias("score"),
            )
        else:
            raise ValueError(f"unknown selection scorer: {selection!r}")
        selection_df = materialize_owned(budget_select(scored, token_budget))
        # the budget cut folds in as 'drop_budget' (ADVICE r9), so the
        # corpus count == decisions keep count reconciliation holds
        # under token_budget too
        ledger = _fold(ledger, selection_df.where(~F.col("selected")), "drop_budget")
    split_bucket = md5_bucket(F.col("doc_id"), 100)
    split_assign = (
        F.when(split_bucket < train_pct, "train")
        .when(split_bucket < train_pct + val_pct, "val")
        .otherwise("test")
    )
    leakage_df = None
    if leakage_ngram is not None:
        # repair BEFORE shard/order assignment so the quarantined docs
        # never occupy shard slots or training-order positions; split
        # assignment is a pure doc_id hash, so computing it here and
        # again below lands every surviving doc in the same split.
        leakage_df = materialize_owned(
            split_leakage_actions(
                _kept(docs, ledger).select(
                    "doc_id", "text", split_assign.alias("split")
                ),
                n=leakage_ngram,
            )
        )
        ledger = _fold(
            ledger,
            leakage_df.where(F.col("action") == "quarantine_leakage"),
            "quarantine_leakage",
        )
    corpus = _kept(docs, ledger).select(
        "*",
        split_assign.alias("split"),
        md5_bucket(F.col("doc_id"), n_shards).alias("shard_id"),
    )
    if order_seed is not None:
        # shuffle_order reads only doc_id: rank the ledger's keep ids
        order = shuffle_order(
            ledger.where(F.col("decision") == "keep").select("doc_id"),
            seed=order_seed,
        ).select("doc_id", F.col("global_pos").alias("train_order"))
        corpus = corpus.join(order, "doc_id")
    manifest = corpus.groupBy("split", "shard_id").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("total_chars"),
    )
    return CorpusBuildOutputs(
        decisions=ledger,
        corpus=corpus,
        manifest=manifest,
        selection=selection_df,
        leakage=leakage_df,
        contamination=contamination_df,
        semantic=semantic_df,
    )
