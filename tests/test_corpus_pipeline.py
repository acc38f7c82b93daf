"""End-to-end corpus build (corpus_pipeline.run_corpus_build): the
composed plan must agree row-for-row with the registered queries that
hash-check each stage, and every assignment must be deterministic."""

from __future__ import annotations

from soccer_data_pipeline_spark.corpus_pipeline import run_corpus_build
from soccer_data_pipeline_spark.plans import QUERIES
from soccer_data_pipeline_spark.sources import load_table

SF = "/root/testdata/sf0.001"


def _docs(spark):
    return load_table(spark, SF, "documents")


def _docs_with_leaked_pair(spark):
    """The fixture plus one leaked (train, val) pair.

    The sf0.001 fixture audits clean AFTER cleaning (dedup-before-split
    doing its job), so inject one leaked pair that every cleaning tier
    passes: a shared 8-gram of single-char tokens (15 chars — SHORTER
    than the winnowing k=16, so the run cannot contain one full
    winnowing k-gram and the verbatim tier cannot see it; this is
    precisely the sub-fingerprint leakage the n-gram audit exists to
    catch) in otherwise-unrelated quality-passing docs, ids hashing to
    train (100000) and val (100006) under the md5 split bucket."""
    from pyspark.sql import functions as F

    shared = "j k l m n o p q"
    mk = lambda stem: (  # noqa: E731
        "a "
        + " ".join(f"{stem}{i}" for i in range(30))
        + f" {shared} "
        + " ".join(f"{stem}{i}" for i in range(30, 60))
    )
    injected = spark.createDataFrame(
        [(100000, mk("alpha")), (100006, mk("beta"))],
        "doc_id long, text string",
    ).select("doc_id", "text", F.length("text").cast("long").alias("n_chars"))
    return _docs(spark).select("doc_id", "text", "n_chars").unionByName(injected)


def test_decisions_match_registered_query(spark):
    out = run_corpus_build(_docs(spark))
    composed = {(r.doc_id, r.decision) for r in out.decisions.collect()}
    registered = {
        (r.doc_id, r.decision)
        for r in QUERIES["corpus_clean_decisions"].fn(spark, SF).collect()
    }
    assert composed == registered


def test_corpus_split_and_shard_assignment(spark):
    out = run_corpus_build(_docs(spark), n_shards=8)
    rows = out.corpus.collect()
    keep_count = out.decisions.where("decision = 'keep'").count()
    assert len(rows) == keep_count and keep_count > 0
    assert {r.split for r in rows} <= {"train", "val", "test"}
    assert all(0 <= r.shard_id < 8 for r in rows)
    # split agrees with the registered hash-split query on kept docs
    split_ref = {
        r.doc_id: r.split
        for r in QUERIES["train_val_test_split"].fn(spark, SF).collect()
    }
    for r in rows:
        assert r.split == split_ref[r.doc_id]


def test_manifest_totals_account_for_corpus(spark):
    out = run_corpus_build(_docs(spark))
    m = out.manifest.collect()
    assert sum(r.n_docs for r in m) == out.corpus.count()
    chars = {r.doc_id: r.n_chars for r in out.corpus.collect()}
    assert sum(r.total_chars for r in m) == sum(chars.values())


def test_rebuild_is_deterministic(spark):
    a = run_corpus_build(_docs(spark))
    b = run_corpus_build(_docs(spark))
    key = lambda r: (r.doc_id, r.split, r.shard_id)  # noqa: E731
    assert sorted(map(key, a.corpus.collect())) == sorted(
        map(key, b.corpus.collect())
    )


def test_cli_corpus_subcommand(spark, tmp_path):
    """`python -m soccer_data_pipeline_spark corpus` writes the corpus,
    manifest, and decisions trees with consistent counts."""
    from soccer_data_pipeline_spark.__main__ import main

    out = str(tmp_path / "out")
    rc = main(["corpus", "--docs", f"{SF}/documents.parquet", "--out", out, "--shards", "4"])
    assert rc == 0
    corpus = spark.read.parquet(f"{out}/corpus")
    decisions = spark.read.parquet(f"{out}/decisions")
    manifest = spark.read.parquet(f"{out}/manifest")
    assert corpus.count() == decisions.where("decision = 'keep'").count()
    assert sum(r.n_docs for r in manifest.collect()) == corpus.count()
    assert corpus.select("shard_id").distinct().count() <= 4


def test_shuffle_order_is_the_global_rank(spark):
    """Two-phase prefix-sum rank == the definitional single-window
    ROW_NUMBER over ORDER BY (hash, doc_id), and the positions are a
    permutation of 0..n-1."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from soccer_data_pipeline_spark.operators.corpus import shuffle_order

    docs = _docs(spark)
    got = {r.doc_id: r.global_pos for r in shuffle_order(docs).collect()}
    hk = F.md5(
        F.concat(F.lit("42:"), F.col("doc_id").cast("string")).cast("binary")
    )
    naive = {
        r.doc_id: r.pos
        for r in docs.select("doc_id", hk.alias("hk"))
        .withColumn(
            "pos", F.row_number().over(Window.orderBy("hk", "doc_id")) - 1
        )
        .collect()
    }
    assert got == naive
    assert sorted(got.values()) == list(range(len(got)))


def test_shuffle_order_bucket_width_invariant(spark):
    """The bucket fan-out (256 vs 4096 buckets) is a pure parallelism
    knob: output is identical, so widening for a bigger cluster is safe."""
    from soccer_data_pipeline_spark.operators.corpus import shuffle_order

    docs = _docs(spark)
    narrow = {(r.doc_id, r.global_pos) for r in shuffle_order(docs, bucket_hex_chars=1).collect()}
    wide = {(r.doc_id, r.global_pos) for r in shuffle_order(docs, bucket_hex_chars=3).collect()}
    assert narrow == wide


def test_shuffle_order_seed_reshuffles(spark):
    """A different seed yields a different permutation (same id set)."""
    from soccer_data_pipeline_spark.operators.corpus import shuffle_order

    docs = _docs(spark)
    a = {r.doc_id: r.global_pos for r in shuffle_order(docs, seed="42").collect()}
    b = {r.doc_id: r.global_pos for r in shuffle_order(docs, seed="43").collect()}
    assert set(a) == set(b) and a != b


def test_budgeted_selection_meets_token_budget(spark):
    """VERDICT r8 #4: token_budget adds a selection stage — kept docs
    are the best-first prefix whose cumulative token count stays within
    the budget, the cut is exact at doc granularity, the corpus carries
    exactly the selected set, and a re-run reproduces it identically
    (both the quality and DSIR scorers)."""
    from soccer_data_pipeline_spark.operators.corpus import quality_pm

    docs = _docs(spark)
    # half the POST-CLEAN token mass, so the cut genuinely excludes docs
    unbudgeted = run_corpus_build(docs)
    budget = quality_pm(unbudgeted.corpus).agg({"n_tok": "sum"}).first()[0] // 2
    out = run_corpus_build(docs, token_budget=budget)
    sel = out.selection.collect()
    kept = {r.doc_id for r in sel if r.selected}
    total = sum(r.n_tok for r in sel if r.selected)
    assert 0 < total <= budget
    # the cut is a clean prefix: the smallest excluded cumulative
    # overflows the budget (selection is greedy best-first, not gappy)
    excluded_cums = sorted(r.cum_tokens for r in sel if not r.selected)
    assert excluded_cums and excluded_cums[0] > budget
    assert {r.doc_id for r in out.corpus.collect()} == kept
    # decisions stays the authoritative ledger under token_budget
    # (ADVICE r9): budget-dropped docs read 'drop_budget', so the
    # corpus-count == decisions-keep-count reconciliation holds.
    dec = {r.doc_id: r.decision for r in out.decisions.collect()}
    assert {d for d, v in dec.items() if v == "keep"} == kept
    assert {d for d, v in dec.items() if v == "drop_budget"} == {
        r.doc_id for r in sel if not r.selected
    }
    rerun = run_corpus_build(docs, token_budget=budget)
    assert {r.doc_id for r in rerun.corpus.collect()} == kept

    dsir = run_corpus_build(docs, token_budget=budget, selection="dsir")
    dsel = dsir.selection.collect()
    dtotal = sum(r.n_tok for r in dsel if r.selected)
    dkept = {r.doc_id for r in dsel if r.selected}
    assert 0 < dtotal <= budget
    assert {r.doc_id for r in dsir.corpus.collect()} == dkept
    # the two scorers are genuinely different rankings on this corpus
    assert dkept != kept


def test_leakage_repair_audits_clean(spark):
    """VERDICT r9 #4 end-to-end: leakage_ngram quarantines the held-out
    docs sharing train 8-grams, folds 'quarantine_leakage' into the
    decisions ledger, and the REPAIRED corpus re-audits at zero leaked
    docs by construction (train side unchanged). The repair must agree
    doc-for-doc with the registered split_leakage_repair differential
    restricted to clean-kept docs."""
    from soccer_data_pipeline_spark.operators.corpus import (
        split_leakage_actions,
    )

    out = run_corpus_build(_docs_with_leaked_pair(spark), leakage_ngram=8)
    actions = {(r.doc_id, r.action) for r in out.leakage.collect()}
    quarantined = {d for d, a in actions if a == "quarantine_leakage"}
    assert 100006 in quarantined  # the injected val doc is repaired away
    corpus_ids = {r.doc_id for r in out.corpus.collect()}
    assert corpus_ids.isdisjoint(quarantined)
    dec = {r.doc_id: r.decision for r in out.decisions.collect()}
    assert {d for d, v in dec.items() if v == "quarantine_leakage"} == quarantined
    assert {d for d, v in dec.items() if v == "keep"} == corpus_ids
    # post-repair audit: zero leaked held-out docs remain
    post = split_leakage_actions(
        out.corpus.select("doc_id", "text", "split"), n=8
    )
    assert post.where("action = 'quarantine_leakage'").count() == 0
    # consistency with the registered differential (which runs on the
    # raw fixture, sans the injected pair): the pipeline's train gram
    # set (clean-kept docs) is a subset of the raw corpus's, so every
    # non-injected pipeline quarantine must also be a raw-corpus one
    reg_quarantined = {
        r.doc_id
        for r in QUERIES["split_leakage_repair"].fn(spark, SF).collect()
        if r.action == "quarantine_leakage"
    }
    assert (quarantined - {100000, 100006}) <= reg_quarantined


def test_decontamination_drops_benchmark_overlap(spark):
    """r10 audit→action closure for benchmark contamination: docs
    sharing a word 5-gram with the benchmark frame are dropped, folded
    into decisions as 'drop_contaminated', the set agrees with the
    registered benchmark_contamination audit restricted to clean-kept
    docs, and the decontaminated corpus re-audits clean (one-pass sound
    — the benchmark never changes)."""
    from soccer_data_pipeline_spark.operators.corpus import (
        contamination_actions,
    )

    docs = _docs(spark)
    benchmark = docs.where("doc_id < 20").select("text")
    corpus_side = docs.where("doc_id >= 20")
    out = run_corpus_build(corpus_side, benchmark=benchmark)
    dropped = {
        r.doc_id
        for r in out.contamination.collect()
        if r.action == "drop_contaminated"
    }
    assert dropped, "fixture has no benchmark 5-gram overlap"
    corpus_ids = {r.doc_id for r in out.corpus.collect()}
    assert corpus_ids.isdisjoint(dropped)
    dec = {r.doc_id: r.decision for r in out.decisions.collect()}
    assert {d for d, v in dec.items() if v == "drop_contaminated"} == dropped
    assert {d for d, v in dec.items() if v == "keep"} == corpus_ids
    # audit agreement: every dropped doc is one the registered audit
    # counts (the audit runs on the raw corpus; decontamination on
    # clean-kept docs, a subset)
    audited = {
        r.doc_id
        for r in QUERIES["benchmark_contamination"].fn(spark, SF).collect()
    }
    assert dropped <= audited
    # post-decontamination re-audit: clean by construction
    post = contamination_actions(
        out.corpus.select("doc_id", "text"), benchmark, n=5
    )
    assert post.where("action = 'drop_contaminated'").count() == 0


def test_semantic_dedup_drops_fold_into_decisions(spark):
    """r12 audit→action closure for SemDeDup (VERDICT r11 #2): with an
    embeddings frame, non-keeper dup-cluster members drop as
    'drop_semantic', the decisions↔corpus reconciliation holds
    unconditionally with the new reason, the action set agrees with
    the shared operator run standalone on the same kept set, and the
    post-action corpus re-audits clean under the same cell assignment
    (the semantic_dedup_repair gate, asserted here end-to-end)."""
    from pyspark.sql import functions as F

    from soccer_data_pipeline_spark.operators.semdedup import (
        semantic_actions,
        semdedup_assign,
        semdedup_k,
        semdedup_pairs,
    )

    docs = _docs(spark)
    emb = load_table(spark, SF, "embeddings")
    out = run_corpus_build(docs, embeddings=emb)
    dropped = {
        r.doc_id for r in out.semantic.collect() if r.action == "drop_semantic"
    }
    assert dropped, "fixture has no semantic dup clusters"
    corpus_ids = {r.doc_id for r in out.corpus.collect()}
    assert corpus_ids.isdisjoint(dropped)
    dec = {r.doc_id: r.decision for r in out.decisions.collect()}
    assert {d for d, v in dec.items() if v == "drop_semantic"} == dropped
    # reconciliation invariant: corpus count == decisions keep count
    assert {d for d, v in dec.items() if v == "keep"} == corpus_ids

    # agreement with the shared operator on the same (clean-kept) set
    clean_kept = docs.join(
        out.decisions.where(
            F.col("decision").isin("keep", "drop_semantic")
        ).select("doc_id"),
        "doc_id",
        "left_semi",
    )
    vecs = emb.join(
        clean_kept.select(F.col("doc_id").alias("vec_id")), "vec_id", "left_semi"
    )
    standalone = {
        r.vec_id
        for r in semantic_actions(vecs).collect()
        if r.action == "drop_semantic"
    }
    assert standalone == dropped

    # post-action audit: zero within-cell pairs among survivors under
    # the SAME learned assignment
    a2 = semdedup_assign(vecs, semdedup_k(vecs.count()))
    kept_assigned = a2.join(
        out.corpus.select(F.col("doc_id").alias("vec_id")), "vec_id", "left_semi"
    )
    assert semdedup_pairs(kept_assigned, vecs).count() == 0


def test_verbatim_overlap_caught_where_minhash_misses(spark):
    """Golden (VERDICT r8 #3): two otherwise-unrelated docs sharing one
    >= 31-char verbatim quote (the winnowing k+2w-1 two-fingerprint
    guarantee at the 16/8 defaults) must be consolidated by the
    substring tier — clean_decisions drops the non-keeper with reason
    'drop_verbatim_overlap' — even though their token-shingle Jaccard
    is far below the MinHash tier's 0.5 threshold (no near-dup pair)."""
    from soccer_data_pipeline_spark.operators.corpus import clean_decisions
    from soccer_data_pipeline_spark.operators.dedup import (
        minhash_near_dup_pairs,
        winnowing_pairs,
    )

    quote = "the quick brown fox jumps over the lazy dog tonight"  # 51 chars
    a_body = " ".join(f"alpha{i}" for i in range(40))
    b_body = " ".join(f"beta{i}" for i in range(40))
    # 'the'/'a' tokens keep the stop-word ratio inside [0.01, 0.5]
    docs = spark.createDataFrame(
        [
            (1, f"a {a_body} {quote} {a_body}"),
            (2, f"a {b_body} {quote} {b_body}"),
        ],
        "doc_id long, text string",
    )
    mh = minhash_near_dup_pairs(docs, n=3, k=16, bands=4, threshold=0.5).collect()
    assert mh == [], f"fixture broken: MinHash found {mh}"
    wp = winnowing_pairs(docs).collect()
    assert [(r.doc_a, r.doc_b) for r in wp] == [(1, 2)]
    assert wp[0].n_shared >= 2
    got = {r.doc_id: r.decision for r in clean_decisions(docs).collect()}
    assert got == {1: "keep", 2: "drop_verbatim_overlap"}
    # tier off reproduces the pre-r9 blind spot (both kept)
    off = {
        r.doc_id: r.decision
        for r in clean_decisions(docs, winnow_min_shared=None).collect()
    }
    assert off == {1: "keep", 2: "keep"}


def test_budget_select_matches_naive_prefix(spark):
    """budget_select (two-phase bucketed prefix sum, no global window)
    == the definitional sort-then-prefix cut, on seeded random frames
    with heavy score ties, for both long and double scores."""
    import random

    from soccer_data_pipeline_spark.operators.corpus import budget_select

    rnd = random.Random(7)
    for as_double in (False, True):
        n = rnd.randint(40, 200)
        rows = [
            (
                i,
                float(rnd.randint(-5, 5)) + (0.25 if as_double else 0.0),
                rnd.randint(1, 50),
            )
            for i in range(n)
        ]
        schema = f"doc_id long, score {'double' if as_double else 'long'}, n_tok long"
        df = spark.createDataFrame(
            [(d, s if as_double else int(s), t) for d, s, t in rows], schema
        )
        budget = sum(r[2] for r in rows) // 3
        got = {
            r.doc_id
            for r in budget_select(df, budget).where("selected").collect()
        }
        cum, want = 0, set()
        for d, s, t in sorted(rows, key=lambda r: (-r[1], r[0])):
            if cum + t > budget:
                break
            cum += t
            want.add(d)
        assert got == want


def test_clean_decisions_reason_attribution(spark):
    """Invariant of the r9 union-edge consolidation: a doc dropped as
    drop_verbatim_overlap has NO MinHash edge of its own (it was pulled
    into its cluster purely by winnowing evidence); a drop_near_dup doc
    has at least one."""
    from soccer_data_pipeline_spark.operators.corpus import clean_decisions
    from soccer_data_pipeline_spark.operators.dedup import minhash_near_dup_pairs

    docs = _docs(spark)
    dec = {r.doc_id: r.decision for r in clean_decisions(docs).collect()}
    mh = minhash_near_dup_pairs(
        docs, n=3, k=16, bands=4, threshold=0.5, max_bucket_size=50
    ).collect()
    mh_docs = {r.doc_a for r in mh} | {r.doc_b for r in mh}
    assert any(v == "drop_near_dup" for v in dec.values())
    for d, v in dec.items():
        if v == "drop_verbatim_overlap":
            assert d not in mh_docs, f"doc {d} has a MinHash edge but verbatim reason"
        elif v == "drop_near_dup":
            assert d in mh_docs, f"doc {d} has no MinHash edge but near_dup reason"


def test_corpus_build_train_order(spark):
    """order_seed adds a train_order column that (a) matches
    shuffle_order over exactly the kept docs and (b) is a permutation
    of 0..n_kept-1 — so shard streams ordered by it reproduce the
    epoch order."""
    from soccer_data_pipeline_spark.operators.corpus import shuffle_order

    out = run_corpus_build(_docs(spark), order_seed="7")
    rows = out.corpus.select("doc_id", "train_order").collect()
    got = {r.doc_id: r.train_order for r in rows}
    assert sorted(got.values()) == list(range(len(got)))
    kept = _docs(spark).join(
        out.decisions.where("decision = 'keep'"), "doc_id", "left_semi"
    )
    ref = {
        r.doc_id: r.global_pos
        for r in shuffle_order(kept, seed="7").collect()
    }
    assert got == ref


def test_all_optional_stages_compose(spark):
    """Every optional stage in ONE build — decontamination, semantic
    dedup, budgeted selection, leakage repair, training order — each
    folding its drops into the one decisions ledger: decisions covers
    each input doc exactly once, the corpus is exactly the keep set,
    each stage's dropped ids carry that stage's reason unless an
    earlier stage already dropped them, and the manifest accounts for
    the corpus."""
    docs = _docs_with_leaked_pair(spark)
    out = run_corpus_build(
        docs,
        # docs 5, 7 and 13 are clean-kept and outside the fixture's
        # one semantic dup pair (1, 257)
        benchmark=_docs(spark).where("doc_id IN (5, 7, 13)").select("text"),
        embeddings=load_table(spark, SF, "embeddings"),
        # above the 608 tokens of the score-1000 docs (the leaked pair
        # among them), below the ~1540 that survive the earlier stages
        token_budget=1200,
        leakage_ngram=8,
        order_seed="7",
    )
    dec_rows = out.decisions.collect()
    dec = {r.doc_id: r.decision for r in dec_rows}
    input_ids = [r.doc_id for r in docs.select("doc_id").collect()]
    assert len(dec_rows) == len(dec) == len(input_ids)
    assert set(dec) == set(input_ids)

    corpus = out.corpus.collect()
    keep = {d for d, v in dec.items() if v == "keep"}
    assert len(corpus) == len(keep) and {r.doc_id for r in corpus} == keep
    assert sorted(r.train_order for r in corpus) == list(range(len(corpus)))

    stage_drops = [
        ("drop_contaminated", {
            r.doc_id for r in out.contamination.collect()
            if r.action == "drop_contaminated"
        }),
        ("drop_semantic", {
            r.doc_id for r in out.semantic.collect()
            if r.action == "drop_semantic"
        }),
        ("drop_budget", {r.doc_id for r in out.selection.collect() if not r.selected}),
        ("quarantine_leakage", {
            r.doc_id for r in out.leakage.collect()
            if r.action == "quarantine_leakage"
        }),
    ]
    stage_reasons = {reason for reason, _ in stage_drops}
    earlier = {d for d, v in dec.items() if v not in stage_reasons | {"keep"}}
    for reason, dropped in stage_drops:
        assert dropped, f"no {reason} drops on this fixture"
        assert {d for d, v in dec.items() if v == reason} == dropped - earlier
        earlier |= dropped
    assert 100006 in earlier  # the injected leaked val doc

    m = out.manifest.collect()
    assert sum(r.n_docs for r in m) == len(corpus)
    assert sum(r.total_chars for r in m) == sum(r.n_chars for r in corpus)


def _group_jobs(spark, group, action) -> int:
    """Run ``action`` under Spark job group ``group``; → its job count."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_writes_read_materialized_ledger(spark, tmp_path):
    """Materialization guard: once run_corpus_build returns, the
    decisions ledger is materialized — writing it is one scan job — and
    the corpus write re-runs nothing of cleaning or SemDeDup: it costs
    no more jobs than the same write over a ledger read back from
    storage, which has no upstream lineage at all."""
    from pyspark.sql import functions as F

    docs = _docs(spark)
    out = run_corpus_build(docs, embeddings=load_table(spark, SF, "embeddings"))
    dec_path = str(tmp_path / "decisions")
    assert _group_jobs(
        spark, "guard-decisions",
        lambda: out.decisions.write.parquet(dec_path),
    ) == 1

    corpus_jobs = _group_jobs(
        spark, "guard-corpus",
        lambda: out.corpus.write.parquet(str(tmp_path / "corpus")),
    )
    stored = spark.read.parquet(dec_path).where(F.col("decision") == "keep")
    ref_jobs = _group_jobs(
        spark, "guard-stored-ledger",
        lambda: docs.join(stored, "doc_id", "left_semi")
        .write.parquet(str(tmp_path / "ref")),
    )
    assert 0 < corpus_jobs <= ref_jobs
