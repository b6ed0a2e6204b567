#!/usr/bin/env python3
"""End-to-end corpus curation CLI — the library driven as a product.

Reads ``documents.parquet`` from a scale-factor directory, optionally
strips repeated lines within each doc first (``--line-dedup``), runs the
screen pipeline (unicode normalization, Gopher and C4 hard rules, linear
classifier filter, normalized-text exact dedup, temperature-2 domain
mixture), optionally collapses MinHash near-dup clusters to their
keepers (``--minhash-dedup``), stride-1 exact-substring screening
(``--max-dup-frac``) and SemDeDup embedding-space near-dups
to their cluster keepers (``--semantic-dedup``), optionally screens by LM perplexity against a reference
domain (``--ppl-ref``/``--max-log-ppl``), optionally trims each source
to a quality-ranked token budget
(``token_budget_subset``) and packs in deterministic shuffled order
(``global_shuffle``), then writes the surviving documents as a
shard-partitioned packed corpus (``write_packed_corpus``) and prints
ONE JSON line of stats. ``--baseline-snapshot DIR`` additionally diffs
the incoming corpus against a previous snapshot (added/removed/changed/
unchanged — the incremental re-processing bill) into stats + manifest.

Usage:
    python tools/curate.py [--sf-dir DIR] [--out DIR] [--seq-len N]
                           [--min-p-keep P] [--token-budget N]
                           [--shuffle-seed S]

Every stage is a column expression or hash-keyed aggregate from
``timely_spark.operators`` — the whole run is three Spark jobs (screen +
count, dup head set, packed write), no collect of document data.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def load_documents(spark, path: str, fmt: str = "parquet",
                   main_content: bool = False):
    """documents table from any supported corpus source."""
    if fmt == "parquet":
        return spark.read.parquet(f"{path}/documents.parquet")
    if fmt == "jsonl":
        from timely_spark.sources.corpus import read_jsonl_documents

        return read_jsonl_documents(spark, path, source_field="source")
    if fmt == "warc":
        from timely_spark.sources.corpus import read_warc_documents

        return read_warc_documents(spark, path, main_content=main_content)
    raise ValueError(f"unknown corpus format: {fmt}")


def curate(spark, sf_dir: str, out: str, seq_len: int = 512, min_p_keep: float = 0.4,
           gopher: bool = False, c4: bool = False, fmt: str = "parquet",
           token_budget: int | None = None, shuffle_seed: str | None = None,
           bench_path: str | None = None, dsir_target: str | None = None,
           dsir_keep: int | None = None, bpe_tokens: bool = False,
           main_content: bool = False, learned_filter: bool = False,
           ppl_ref: str | None = None, max_log_ppl: float | None = None,
           minhash_threshold: float | None = None, line_dedup: bool = False,
           semantic_threshold: float | None = None,
           max_dup_frac: float | None = None,
           substring_rewrite: bool = False,
           semantic_decon: float | None = None,
           semantic_blocked_over: int = 100_000,
           baseline_snapshot: str | None = None,
           probe_queries: dict | None = None,
           probe_topk: int | None = None,
           history_index: str | None = None,
           history_threshold: float | None = None,
           history_compact: bool = False):
    from pyspark.sql import functions as F

    from timely_spark.operators.dedup import exact_dup_groups
    from timely_spark.operators.mixture import domain_mixture
    from timely_spark.operators.pack import write_packed_corpus
    from timely_spark.operators.text import (
        c4_signals,
        classifier_score,
        gopher_signals,
        normalize_text,
    )

    # paired-flag stages must be fully specified or absent: a silent
    # skip here ships a corpus WITHOUT the screen the caller asked for
    # (r10 review: --semantic-decon with a forgotten --bench packed a
    # contaminated corpus with only a null in the stats as evidence)
    if semantic_decon is not None and not bench_path:
        raise ValueError("--semantic-decon requires --bench")
    if (dsir_target is None) != (dsir_keep is None):
        raise ValueError("--dsir-target and --dsir-keep must be given together")
    if (ppl_ref is None) != (max_log_ppl is None):
        raise ValueError("--ppl-ref and --max-log-ppl must be given together")
    if probe_topk is not None and probe_queries is None:
        raise ValueError("--probe-topk requires --probes")
    if probe_queries is not None and probe_topk is None:
        probe_topk = 100
    if history_threshold is not None and history_index is None:
        raise ValueError("--history-threshold requires --history-index")
    if history_compact and history_index is None:
        raise ValueError("--history-compact requires --history-index")

    # per-stage wall clock (VERDICT r9 #5: the composition-level view —
    # a recomputed stage or missing persist only surfaces here, not in
    # per-operator benches). Stage boundaries are the existing actions;
    # marking them costs nothing extra.
    import time as _time

    timings: dict[str, float] = {}
    _last = [_time.time()]

    def _mark(stage: str) -> None:
        now = _time.time()
        timings[stage] = round(now - _last[0], 2)
        _last[0] = now

    # Stage-boundary materialization (r10: the x10 full-chain rehearsal
    # OOMed the driver at the blocked-decon stage). Root cause is
    # COMPOSITIONAL and exponential, not a slow operator: every stage
    # filters survivors by a keep-set derived FROM survivors, so each
    # stage's logical plan embeds TWO copies of the previous stage's —
    # ten chained stages build ~2^10 copies of the screen subtree, and
    # even persist() dies just RENDERING that plan's string
    # (CachedRDDBuilder.cachedName treeString OOM, measured). persist()
    # does not truncate logical lineage; only a real checkpoint does.
    # Each stage therefore round-trips its survivor frame through
    # parquet: plan lineage resets to a scan and peak driver state is
    # one stage's plan. The stage dir is a SIBLING of the output path
    # (out + '_stages'), not under it: the final write_packed_corpus
    # does mode('overwrite') on out, and a stage dir under out would be
    # deleted while the survivor lineage still lazily reads it — a
    # cache-block loss during the final write would then recompute from
    # deleted files (ADVICE r10 #1, the refresh_rollup replaced-file
    # hazard). A sibling stays on the same shared filesystem the job
    # can write to (a driver-local tempdir would scatter task files
    # across executor disks, r10 review). On success it is removed; on
    # failure it is LEFT IN PLACE as the debuggable/restart state of
    # the last completed stage.
    _stage_root = out.rstrip("/") + "_stages"
    _stage_seq = [0]

    def _materialize(df):
        path = os.path.join(_stage_root, f"stage{_stage_seq[0]}")
        _stage_seq[0] += 1
        df.write.mode("overwrite").parquet(path)
        # explicit schema: a 0-row stage writes no part files, and
        # schema inference on an empty dir would throw
        out_df = spark.read.schema(df.schema).parquet(path)
        return out_df, out_df.count()

    docs_raw = load_documents(spark, sf_dir, fmt, main_content)

    # incremental mode: diff the incoming corpus against a previous
    # snapshot BEFORE screening — the added+removed count is the
    # re-processing bill, and a large removed count flags upstream
    # takedowns worth auditing. Hash-only full-outer join (ids + md5),
    # document text never shuffles. The diff runs on the RAW text of
    # both sides (r10 review: diffing line-dedup-rewritten incoming
    # against the raw baseline mislabeled every repeated-line doc as
    # 'changed' — the diff is about UPSTREAM changes, so both sides
    # must see the same representation).
    snapshot_diff_counts = None
    if baseline_snapshot:
        from timely_spark.operators.versioning import snapshot_diff_summary

        baseline = load_documents(spark, baseline_snapshot, fmt, main_content)
        snapshot_diff_counts = {
            r["status"]: r["n_docs"]
            for r in snapshot_diff_summary(baseline, docs_raw).collect()
        }
        _mark("snapshot_diff")

    docs = docs_raw
    if line_dedup:
        # intra-doc repeated-line strip before all SCREEN stages: every
        # downstream signal (normalize, gopher, classifier, dedup hash)
        # sees the cleaned text — zero extra shuffles, pure column
        # expression
        from timely_spark.operators.text import dedup_lines

        docs = docs.withColumn("text", dedup_lines("text")["cleaned"])
    n_input = docs.count()
    _mark("load_input")

    sig = gopher_signals("text")
    normed = docs.select(
        "doc_id", "source", normalize_text("text").alias("text"),
        sig["gopher_pass"].alias("gopher_pass"),
        c4_signals("text")["c4_pass"].alias("c4_pass"),
    )
    weights = None
    if learned_filter:
        # train-with-MLlib, serve-in-codegen: fit on the Gopher hard
        # rules as weak labels over a deterministic 1-in-5 sample, then
        # score the corpus through the same zero-shuffle expression
        from timely_spark.operators.classifier import train_classifier_weights

        try:
            weights = train_classifier_weights(
                normed.filter(F.col("doc_id") % 5 == 0),
                F.col("gopher_pass"),
                dim=256,
                max_iter=10,
            )
        except ValueError:
            weights = None  # tiny/empty sample: fall back to static weights
            learned_filter = "fallback_static"
    clf = classifier_score(normed, weights=weights).select(
        "doc_id", "n_tokens", "p_keep"
    )
    mix = domain_mixture(docs).select("doc_id", "kept")

    dups = exact_dup_groups(normed).select(
        F.col("content_hash"), F.col("keep_id")
    )
    hashed = normed.withColumn("content_hash", F.md5("text"))
    # unhinted: AQE broadcasts the dup set while small, shuffle-joins
    # (skew-split) when a mass-duplicated corpus grows it
    keepers = hashed.join(dups, "content_hash", "left").withColumn(
        "is_keeper",
        F.col("keep_id").isNull() | (F.col("doc_id") == F.col("keep_id")),
    )

    # one materialization of the screen DAG: the stage agg, the survivor
    # filter, and the packed write all consume `staged` — unpersisted it
    # recomputes the normalize/classifier/dedup plan per action
    staged = keepers.join(clf, "doc_id").join(mix, "doc_id").persist()
    keep = (
        F.col("is_keeper") & F.col("kept") & (F.col("p_keep") >= min_p_keep)
    )
    if gopher:
        # the Gopher stopword/word-count rules assume natural-language
        # prose; off by default so synthetic/code corpora survive
        keep = keep & F.col("gopher_pass")
    if c4:
        # C4 form rules (terminal-punctuation sentences, lorem/js/brace
        # screens) — likewise prose-shaped, off by default
        keep = keep & F.col("c4_pass")
    # one job: per-stage pass counts + the final decision
    agg = staged.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("gopher_pass").cast("long")).alias("n_gopher"),
        F.sum(F.col("c4_pass").cast("long")).alias("n_c4"),
        F.sum(F.col("is_keeper").cast("long")).alias("n_keepers"),
        F.sum(F.col("kept").cast("long")).alias("n_mixture"),
        F.sum((F.col("p_keep") >= min_p_keep).cast("long")).alias("n_clf"),
        F.sum(keep.cast("long")).alias("n_out"),
    ).collect()[0]
    _mark("screen")
    survivors = staged.filter(keep).select(
        "doc_id", "source", "n_tokens", "p_keep", "text"
    )
    n_out = int(agg["n_out"])
    n_decontaminated = n_dsir = n_ppl = n_minhash = n_semantic = None
    n_semantic_decon = semantic_decon_regime = None
    n_retrieval_decon = None
    n_substring = n_excise_fallback = None
    n_history_dedup = n_history_appended = history_bootstrap = None
    history_idx = None
    if history_index is not None:
        # cross-RUN near-dedup against the persisted corpus index
        # (ann_index.MinHashIndex — the daily-loop accumulator).
        # Existence probe goes through the Hadoop FS that owns the path,
        # never os.path: a driver-local probe is always false on
        # hdfs://s3a:// and would silently flip "screen against history"
        # into "bootstrap overwrite". Any load error propagates.
        from timely_spark.fsutil import sidecar_read_json
        from timely_spark.operators.ann_index import MinHashIndex

        history_bootstrap = (
            sidecar_read_json(spark, history_index + "/model.json") is None
        )
        if not history_bootstrap:
            history_idx = MinHashIndex.load(spark, history_index)
        if (
            history_idx is not None
            and history_threshold is not None
            and history_threshold != history_idx.threshold
        ):
            # loud, not silent: the stored threshold governs an existing
            # index (changing it would make this run's screen
            # inconsistent with every doc already admitted under the old
            # one) — a caller asking for a different value needs a new
            # index path, not a quiet override
            raise ValueError(
                f"--history-threshold {history_threshold} != existing "
                f"index threshold {history_idx.threshold} at "
                f"{history_index}; rebuild under a new path to change it"
            )
    try:
        if minhash_threshold is not None and n_out:
            # fuzzy near-dup pass over the exact-dedup survivors:
            # MinHash+LSH candidate pairs -> Jaccard verify -> connected
            # components -> keep each cluster's min-id doc. All banded/
            # contracting shapes — no all-pairs stage at any scale.
            from timely_spark.operators.dedup import (
                dedup_cluster_assignment,
                minhash_dedup,
            )

            pairs = minhash_dedup(
                survivors.select("doc_id", "text"),
                threshold=minhash_threshold,
            )
            keep_frame = dedup_cluster_assignment(
                survivors.select("doc_id"), pairs
            )
            keep_ids = keep_frame.filter("is_keeper").select("doc_id")
            survivors, n_out = _materialize(survivors.join(keep_ids, "doc_id"))
            # the stage is parquet-materialized: the banded/shingle pins
            # behind `pairs` (consumed by CC's eager edge pin) and the
            # CC labels pin behind keep_frame are all done serving —
            # release them so a daily curation loop holds zero pins per
            # run (VERDICT r12 item 1; pins.py lifecycle contract)
            from timely_spark.pins import release_pins

            release_pins(pairs)
            release_pins(keep_frame)
            n_minhash = n_out
            _mark("minhash_dedup")
        if history_idx is not None and n_out:
            # HISTORY near-dedup: drop batch docs whose shingle Jaccard
            # against ANY already-shipped doc clears the index's stored
            # threshold. Runs EARLY (right after the in-batch fuzzy
            # pass) so every downstream screen sees only genuinely new
            # material; the matching-survivor APPEND runs at the END so
            # the index accumulates exactly what ships (a doc screened
            # out later must stay screenable next run). Cost shape: the
            # batch side signs once; the candidate join is
            # (band, bucket)-keyed against the persisted bands table —
            # never a corpus re-sign.
            hits = (
                history_idx.screen(survivors.select("doc_id", "text"))
                .select(F.col("id_b").alias("doc_id"))
                .distinct()
            )
            survivors, n_out = _materialize(
                survivors.join(hits, "doc_id", "left_anti")
            )
            # release screen()'s internal batch-shingle pin now that the
            # survivor set is materialized (r13; pins.py lifecycle)
            from timely_spark.pins import release_pins

            release_pins(hits)
            n_history_dedup = n_out
            _mark("history_dedup")
        if (substring_rewrite or max_dup_frac is not None) and n_out:
            # stride-1 exact-substring pass (Lee et al. 2022): the
            # expensive window-hash explode runs ONCE (persisted
            # window_occurrences, ints only) and feeds both the screen
            # (drop docs whose duplicated-token fraction exceeds the
            # cutoff — catches boilerplate repeated at ARBITRARY offsets
            # that exact/chunk hashing misses) and the rewrite (EXCISE
            # each duplicated span's character range from the ORIGINAL
            # text, global-first occurrence kept; text outside the spans
            # verbatim). The rewrite re-runs only the cheap count/keeper
            # aggregates over the SURVIVOR subset of the occurrence
            # frame, so its duplicate set and keeper flags are honest
            # post-screen: a span whose global-first copy was screened
            # out keeps its first surviving copy, and a span whose every
            # other copy was screened out is no longer a duplicate at all
            from timely_spark.operators.dedup import (
                excise_spans_original_text,
                repeated_span_stats,
                substring_spans,
                window_occurrences,
            )

            both = substring_rewrite and max_dup_frac is not None
            occ = window_occurrences(survivors.select("doc_id", "text"))
            if both:
                occ = occ.persist()
            if max_dup_frac is not None:
                stats = repeated_span_stats(
                    survivors.select("doc_id", "text"),
                    spans=substring_spans(
                        survivors.select("doc_id", "text"), occ=occ
                    ),
                )
                keep_ids = stats.filter(
                    F.col("dup_frac") <= max_dup_frac
                ).select("doc_id")
                survivors, n_out = _materialize(survivors.join(keep_ids, "doc_id"))
                n_substring = n_out
                _mark("substring_screen")
            if substring_rewrite and n_out:
                # without a screen the survivor set IS the set occ was
                # built from — the filter join would be a corpus-sized
                # identity pass
                surv_occ = (
                    occ.join(survivors.select("doc_id"), "doc_id")
                    if max_dup_frac is not None
                    else occ
                )
                rw = excise_spans_original_text(
                    survivors.select("doc_id", "text"),
                    spans=substring_spans(
                        survivors.select("doc_id", "text"),
                        with_keeper=True,
                        occ=surv_occ,
                    ),
                )
                # carry `excised` THROUGH the stage materialization and
                # derive both counts from the checkpointed parquet —
                # the excision pipeline (the chain's most expensive
                # stage) runs exactly once (r10 review: a fallback-count
                # collect before the materialize executed it twice)
                rw = rw.select(
                    "doc_id",
                    F.col("text").alias("__rw"),
                    F.col("excised").alias("__excised"),
                )
                survivors, n_out = _materialize(
                    survivors.join(rw, "doc_id")
                    .drop("text")
                    .withColumnRenamed("__rw", "text")
                )
                # excised IS NULL = tokenizer-offset fallback: spans
                # were detected but silently RETAINED (exotic Unicode
                # case-folding). Surfacing the count makes silent span
                # retention observable at corpus scale (ADVICE r7).
                n_excise_fallback = int(
                    survivors.filter(F.col("__excised").isNull()).count()
                )
                survivors = survivors.drop("__excised")
                _mark("substring_rewrite")
            if both:
                occ.unpersist()
        if semantic_threshold is not None and n_out:
            # SemDeDup stage: embedding-space near-dup prune over the
            # survivors. With an embeddings table, vec_id aligns 1:1
            # with doc_id in the corpus layout (the embedding for doc i
            # is row vec_id=i); WITHOUT one, embeddings compute from the
            # survivor text itself (hashed_text_embedding — the
            # deterministic signed-projection embedder), so corpora
            # without precomputed vectors still get semantic dedup.
            # existence probe through the Hadoop FS that owns the corpus
            # dir, never os.path.exists — on hdfs:// or s3a:// a local
            # probe is ALWAYS false and would silently switch semantic
            # dedup to the hashed-text embedder (ADVICE r7). Only a
            # missing table downgrades; read errors propagate.
            import sys as _sys

            from timely_spark.fsutil import path_exists
            from timely_spark.operators.similarity import semantic_dedup

            emb_path = f"{sf_dir}/embeddings.parquet"
            if path_exists(spark, emb_path):
                emb = spark.read.parquet(emb_path)
                emb_source = "embeddings table"
            else:
                emb = None
                emb_source = "hashed text embedder (no embeddings table)"
            print(
                f"curate: semantic-dedup embeddings from {emb_source}",
                file=_sys.stderr,
            )
            if emb is not None:
                emb = emb.join(
                    survivors.select(F.col("doc_id").alias("vec_id")),
                    "vec_id",
                )
            else:
                from timely_spark.operators.similarity import (
                    hashed_text_embedding,
                )

                emb = hashed_text_embedding(
                    survivors.select("doc_id", "text")
                ).select(
                    F.col("doc_id").alias("vec_id"), "embedding"
                )
            pruned = semantic_dedup(emb, threshold=semantic_threshold).select(
                F.col("vec_id").alias("doc_id")
            )
            survivors, n_out = _materialize(survivors.join(pruned, "doc_id", "left_anti"))
            n_semantic = n_out
            _mark("semantic_dedup")
        if bench_path and n_out:
            # benchmark decontamination via the bloom + confirm-join
            # operator (the large-benchmark default; byte-identical to
            # the exact set-join)
            from timely_spark.operators.dedup import bloom_decontaminate

            bench = spark.read.parquet(bench_path)
            flags = bloom_decontaminate(
                survivors.select("doc_id", "text"), bench
            )
            survivors = survivors.join(
                flags.filter(~F.col("contaminated")).select("doc_id"),
                "doc_id",
            )
            survivors, n_out = _materialize(survivors)
            n_decontaminated = n_out
            _mark("decontaminate")
        if bench_path and semantic_decon is not None and n_out:
            # PARAPHRASE decontamination against the same benchmark:
            # the embedding-space screen that catches reordered/edited
            # leakage the 8-gram stage structurally misses. Regime is
            # picked by MEASURED benchmark size, mirroring the
            # exact-vs-bloom trade: a broadcastable suite cross-joins
            # against the per-doc sums; past the threshold the
            # cell-probe path runs instead (byte-identical output by
            # the operator's exactness proof, benchmark never
            # broadcast).
            from timely_spark.operators.similarity import (
                semantic_decontaminate,
                semantic_decontaminate_blocked,
            )

            bench = spark.read.parquet(bench_path)
            n_bench = bench.count()
            if n_bench > semantic_blocked_over:
                semantic_decon_regime = "blocked"
                flags = semantic_decontaminate_blocked(
                    survivors.select("doc_id", "text"), bench,
                    threshold=semantic_decon,
                )
            else:
                semantic_decon_regime = "broadcast"
                flags = semantic_decontaminate(
                    survivors.select("doc_id", "text"), bench,
                    threshold=semantic_decon,
                )
            print(
                f"curate: semantic decontamination regime="
                f"{semantic_decon_regime} (|bench|={n_bench}, "
                f"blocked over {semantic_blocked_over})",
                file=sys.stderr,
            )
            survivors = survivors.join(
                flags.filter(~F.col("contaminated")).select("doc_id"),
                "doc_id",
            )
            survivors, n_out = _materialize(survivors)
            n_semantic_decon = n_out
            _mark("semantic_decon")
        if probe_queries is not None and n_out:
            # RETRIEVAL decontamination: drop the documents that RANK
            # against the probe suite (benchmark prompts / takedown
            # texts) — the ranked complement of the 8-gram and
            # paraphrase screens: a doc can leak a benchmark by being
            # its best retrieval hit without sharing an 8-gram or
            # clearing a cosine threshold. ONE corpus pass scores every
            # probe (bm25_topk's union-of-terms aggregate); the hit set
            # is |probes| x k — broadcast-tiny — so the removal is a
            # broadcast anti-join, never a corpus-sized shuffle.
            from timely_spark.operators.retrieval import bm25_topk

            hits = (
                bm25_topk(
                    survivors.select("doc_id", "text"),
                    probe_queries,
                    k=probe_topk,
                )
                .select("doc_id")
                .distinct()
            )
            survivors = survivors.join(
                F.broadcast(hits), "doc_id", "left_anti"
            )
            survivors, n_out = _materialize(survivors)
            n_retrieval_decon = n_out
            _mark("retrieval_decon")
        if dsir_target and dsir_keep and n_out:
            # DSIR importance resampling toward the target sources
            # (hashed-feature production mode: bounded broadcast table)
            from timely_spark.operators.dsir import dsir_select

            target_srcs = [s for s in dsir_target.split(",") if s]
            target = survivors.filter(F.col("source").isin(target_srcs))
            keep_ids = dsir_select(
                survivors.select("doc_id", "text"),
                target.select("doc_id", "text"),
                keep_n=dsir_keep,
            ).select("doc_id")
            survivors, n_out = _materialize(survivors.join(keep_ids, "doc_id"))
            n_dsir = n_out
            _mark("dsir")
        if ppl_ref and max_log_ppl is not None and n_out:
            # CCNet-style LM perplexity screen: bigram LM fit on the
            # reference sources, docs above the log-ppl cutoff dropped
            # (hashed-feature production mode: bounded broadcast tables)
            from timely_spark.operators.perplexity import perplexity_filter

            ref_srcs = [s for s in ppl_ref.split(",") if s]
            ref = survivors.filter(F.col("source").isin(ref_srcs))
            kept = perplexity_filter(
                survivors.select("doc_id", "text"),
                ref.select("doc_id", "text"),
                max_log_ppl=max_log_ppl,
            ).select("doc_id")
            survivors, n_out = _materialize(survivors.join(kept, "doc_id"))
            n_ppl = n_out
            _mark("perplexity")
        if bpe_tokens and n_out:
            # budget in REAL token space: train BPE on a survivor
            # sample, re-derive n_tokens corpus-wide (one Arrow pass)
            from timely_spark.operators.bpe import bpe_encode, train_bpe_merges

            merges = train_bpe_merges(survivors, num_merges=200)
            enc = bpe_encode(survivors, merges).select(
                "doc_id", F.col("n_bpe_tokens").alias("n_tokens")
            )
            survivors = survivors.drop("n_tokens").join(enc, "doc_id")
            _mark("bpe_tokens")
        if token_budget and n_out:
            # per-source quality-ranked token budget over the screen
            # survivors (token_budget_subset's banded two-phase cumsum)
            from timely_spark.operators.mixture import token_budget_subset

            tb = token_budget_subset(
                survivors.select("doc_id", "source", "p_keep", "n_tokens"),
                budget=token_budget,
            )
            survivors = survivors.join(
                tb.filter("kept").select("doc_id"), "doc_id"
            )
            survivors, n_out = _materialize(survivors)
            _mark("token_budget")
        pack_input = survivors.select("doc_id", "text")
        pack_id = "doc_id"
        if shuffle_seed is not None and n_out:
            # deterministic global shuffle: pack by shuffled position so
            # the training stream order is seed-reproducible, not
            # id-ordered (global_shuffle's two-phase bucketed rank)
            from timely_spark.operators.pack import global_shuffle

            gs = global_shuffle(survivors.select("doc_id"), seed=shuffle_seed)
            pack_input = pack_input.join(gs.select("doc_id", "pos"), "doc_id")
            pack_id = "pos"
        n_shards = (
            write_packed_corpus(pack_input, out, id_col=pack_id, seq_len=seq_len)
            if n_out
            else 0
        )
        _mark("pack_write")
        if history_index is not None and n_out:
            # register the SHIPPED survivor set with the history index —
            # after the pack write succeeds (a failed run must not
            # poison the index), with the FINAL text (post rewrite /
            # normalize: the index mirrors what shipped). Bootstrap
            # builds+saves; thereafter append signs only this run's
            # survivors (the hash permutations are constants, so the
            # grown index equals a from-scratch rebuild exactly).
            from timely_spark.operators.ann_index import MinHashIndex

            final_docs = survivors.select("doc_id", "text")
            if history_bootstrap:
                MinHashIndex.build(
                    final_docs,
                    threshold=(
                        0.7 if history_threshold is None else history_threshold
                    ),
                ).materialize().save(history_index)
            else:
                history_idx.append(final_docs, history_index)
            n_history_appended = n_out
            _mark("history_append")
            if history_compact:
                # small-file repair after the append (a year of daily
                # runs is ~365 tiny file sets per table); safe here —
                # the curate loop owns the index between runs
                from timely_spark.operators.ann_index import MinHashIndex

                MinHashIndex.compact(spark, history_index)
                _mark("history_compact")
    finally:
        staged.unpersist()
    # success-only cleanup: a failed run leaves _stages in place as the
    # last completed stage's debuggable/restart state (see _materialize).
    # Deletion goes through the Hadoop FileSystem API so it works on the
    # same filesystems Spark wrote to (hdfs://, s3a://) — a driver-local
    # shutil.rmtree silently no-ops there and would retain up to one
    # full corpus copy per stage (ADVICE r10 #2).
    _jvm = spark._jvm
    _hpath = _jvm.org.apache.hadoop.fs.Path(_stage_root)
    _hfs = _hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    if _hfs.exists(_hpath):
        _hfs.delete(_hpath, True)
    stats = {
        "n_input": n_input,
        "stage_pass": {
            "gopher": int(agg["n_gopher"]),
            "c4": int(agg["n_c4"]),
            "dedup_keeper": int(agg["n_keepers"]),
            "mixture": int(agg["n_mixture"]),
            "classifier": int(agg["n_clf"]),
            "screen": int(agg["n_out"]),
        },
        "gopher_gate": gopher,
        "c4_gate": c4,
        "line_dedup": line_dedup,
        "learned_filter": learned_filter,
        "n_decontaminated": n_decontaminated,
        "n_minhash": n_minhash,
        "n_substring": n_substring,
        "substring_rewrite": substring_rewrite,
        "n_excise_fallback": n_excise_fallback,
        "n_semantic": n_semantic,
        "n_semantic_decon": n_semantic_decon,
        "semantic_decon_regime": semantic_decon_regime,
        "n_retrieval_decon": n_retrieval_decon,
        "probe_topk": probe_topk,
        "n_history_dedup": n_history_dedup,
        "n_history_appended": n_history_appended,
        "history_bootstrap": history_bootstrap,
        "history_index": history_index,
        "history_compact": history_compact,
        "n_dsir": n_dsir,
        "n_ppl": n_ppl,
        "bpe_tokens": bpe_tokens,
        "token_budget": token_budget,
        "shuffle_seed": shuffle_seed,
        "snapshot_diff": snapshot_diff_counts,
        "n_survivors": n_out,
        "keep_rate": round(n_out / n_input, 4) if n_input else 0.0,
        "n_shards": n_shards,
        "stage_wall_s": timings,
        "seq_len": seq_len,
        "out": out,
    }
    if n_out:
        # provenance manifest next to the shards: a packed corpus whose
        # curation config/counts travel with it is reproducible; a bare
        # directory of parquet is not. Written through the Hadoop
        # FileSystem API for the same reason the stage cleanup is — a
        # driver-local open() throws on file:// and silently writes to
        # the wrong place (or throws) on hdfs://s3a:// out dirs.
        mpath = _jvm.org.apache.hadoop.fs.Path(
            out.rstrip("/") + "/_curation_manifest.json"
        )
        mfs = mpath.getFileSystem(spark._jsc.hadoopConfiguration())
        stream = mfs.create(mpath, True)
        try:
            stream.write(
                bytearray(
                    json.dumps(stats, indent=1, sort_keys=True).encode()
                )
            )
        finally:
            stream.close()
    return stats


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument(
        "--sf-dir",
        default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01"),
    )
    ap.add_argument("--out", default=None)
    ap.add_argument("--seq-len", type=int, default=512)
    ap.add_argument("--min-p-keep", type=float, default=0.4)
    ap.add_argument("--gopher", action="store_true",
                    help="also require the Gopher natural-language rules")
    ap.add_argument("--c4", action="store_true",
                    help="also require the C4 form rules (terminal-punct "
                         "sentences, lorem/javascript/brace screens)")
    ap.add_argument("--format", default="parquet",
                    choices=["parquet", "jsonl", "warc"],
                    help="corpus source format (parquet expects <dir>/documents.parquet)")
    ap.add_argument("--token-budget", type=int, default=None,
                    help="per-source token budget (quality-ranked greedy subset)")
    ap.add_argument("--shuffle-seed", default=None,
                    help="pack in deterministic shuffled order under this seed")
    ap.add_argument("--bench", default=None, dest="bench_path",
                    help="parquet benchmark set: drop docs sharing any 8-gram "
                         "(bloom + exact confirm join)")
    ap.add_argument("--dsir-target", default=None,
                    help="comma-separated source names defining the DSIR target domain")
    ap.add_argument("--dsir-keep", type=int, default=None,
                    help="keep top-N docs by DSIR importance weight")
    ap.add_argument("--line-dedup", action="store_true",
                    help="strip repeated lines within each doc before all stages")
    ap.add_argument("--minhash-dedup", type=float, default=None,
                    dest="minhash_threshold", metavar="JACCARD",
                    help="fuzzy near-dup pass: drop non-keeper docs in MinHash "
                         "clusters at this shingle-Jaccard threshold")
    ap.add_argument("--substring-rewrite", action="store_true",
                    help="excise duplicated stride-1 spans' character ranges "
                         "from survivor text (global-first keeper; text "
                         "outside the spans stays verbatim) before "
                         "downstream stages")
    ap.add_argument("--max-dup-frac", type=float, default=None,
                    dest="max_dup_frac", metavar="FRAC",
                    help="stride-1 exact-substring screen: drop docs whose "
                         "duplicated-token fraction (repeated_span_stats) "
                         "exceeds FRAC")
    ap.add_argument("--semantic-dedup", type=float, default=None,
                    dest="semantic_threshold", metavar="COSINE",
                    help="SemDeDup: drop non-keeper docs whose embeddings sit "
                         "above this cosine to a lower-id cluster mate")
    ap.add_argument("--semantic-decon", type=float, default=None,
                    metavar="COSINE",
                    help="paraphrase decontamination against --bench: flag "
                         "docs whose hashed-embedding cosine to ANY "
                         "benchmark doc clears this threshold (exact "
                         "integer verdict; regime auto-picked by "
                         "benchmark size)")
    ap.add_argument("--semantic-blocked-over", type=int, default=100_000,
                    metavar="N_DOCS",
                    help="benchmark size above which --semantic-decon "
                         "switches from the broadcast cross join to the "
                         "cell-probe (blocked) regime — byte-identical "
                         "output, benchmark never broadcast")
    ap.add_argument("--ppl-ref", default=None,
                    help="comma-separated source names defining the perplexity reference LM")
    ap.add_argument("--max-log-ppl", type=float, default=None,
                    help="drop docs above this per-token cross-entropy (nats) "
                         "under the reference bigram LM")
    ap.add_argument("--bpe-tokens", action="store_true",
                    help="token budget in real BPE token space (sampled merge table)")
    ap.add_argument("--main-content", action="store_true",
                    help="WARC input: jusText-lite boilerplate removal instead of tag-strip")
    ap.add_argument("--learned-filter", action="store_true",
                    help="train classifier weights on Gopher weak labels (sampled) instead of static weights")
    ap.add_argument("--baseline-snapshot", default=None,
                    help="previous corpus snapshot dir (same --format): "
                         "record added/removed/changed/unchanged counts "
                         "vs it in the stats/manifest (incremental-run "
                         "re-processing bill)")
    ap.add_argument("--probes", default=None,
                    help="JSON file {query_id: probe text}: retrieval "
                         "decontamination — drop docs ranking in the "
                         "per-probe BM25 top-k (one corpus pass for all "
                         "probes)")
    ap.add_argument("--probe-topk", type=int, default=None, metavar="K",
                    help="per-probe removal depth for --probes "
                         "(default 100; requires --probes)")
    ap.add_argument("--history-index", default=None, metavar="PATH",
                    help="persistent MinHash index dir (daily-loop "
                         "accumulator): screen this run's docs against "
                         "every previously shipped doc, then append the "
                         "shipped survivors; first run bootstraps the "
                         "index. Caller must keep doc_ids globally "
                         "unique across runs (content-hash ids do)")
    ap.add_argument("--history-threshold", type=float, default=None,
                    metavar="JACCARD",
                    help="shingle-Jaccard threshold when BOOTSTRAPPING "
                         "--history-index (default 0.7); an existing "
                         "index's stored threshold governs and a "
                         "mismatching value errors loudly")
    ap.add_argument("--history-compact", action="store_true",
                    help="rewrite the history index tables into "
                         "right-sized files after this run's append "
                         "(small-file repair for long daily loops)")
    args = ap.parse_args()
    probe_queries = None
    if args.probes:
        with open(args.probes) as f:
            probe_queries = json.load(f)
    out = args.out or tempfile.mkdtemp(prefix="curated_")

    from timely_spark.session import get_spark

    spark = get_spark("timely-curate")
    # keyword args throughout: a parameter inserted mid-signature must
    # fail loudly, not silently rebind its positional neighbors
    stats = curate(spark, args.sf_dir, out, seq_len=args.seq_len,
                   min_p_keep=args.min_p_keep, gopher=args.gopher, c4=args.c4,
                   fmt=args.format, token_budget=args.token_budget,
                   shuffle_seed=args.shuffle_seed, bench_path=args.bench_path,
                   dsir_target=args.dsir_target, dsir_keep=args.dsir_keep,
                   bpe_tokens=args.bpe_tokens, main_content=args.main_content,
                   learned_filter=args.learned_filter, ppl_ref=args.ppl_ref,
                   max_log_ppl=args.max_log_ppl,
                   minhash_threshold=args.minhash_threshold,
                   line_dedup=args.line_dedup,
                   semantic_threshold=args.semantic_threshold,
                   max_dup_frac=args.max_dup_frac,
                   substring_rewrite=args.substring_rewrite,
                   semantic_decon=args.semantic_decon,
                   semantic_blocked_over=args.semantic_blocked_over,
                   baseline_snapshot=args.baseline_snapshot,
                   probe_queries=probe_queries,
                   probe_topk=args.probe_topk,
                   history_index=args.history_index,
                   history_threshold=args.history_threshold,
                   history_compact=args.history_compact)
    print(json.dumps(stats))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
