"""End-to-end corpus curation pipeline — the training-data analogue of
the offload pipeline, composed from the repo's own operators:

  CRAWL_DEDUP    URL-grain provenance dedup — the stage that precedes
                 ALL content processing in a crawl pipeline: re-fetches
                 of the same canonical URL (lowercased host, tracking
                 query/fragment/trailing-slash stripped) keep only the
                 min-doc_id fetch, killing the cheapest duplicates
                 before any text is hashed (accounting twin:
                 queries/profiling.py::url_dedup_stats; the URL is the
                 same deterministic fixture synthesis — a real corpus
                 carries the column)
  HYGIENE_SCRUB  pre-tokenizer unicode scrub (control chars, U+FFFD
                 encoding damage, zero-width chars, run-on whitespace
                 — functions/text.py::hygiene_scrub, the same ONE
                 expression the text_hygiene_audit report measures);
                 docs scrubbed empty are dropped. Runs FIRST so every
                 later stage — rule gate, fingerprints, signatures —
                 sees clean text
  RULE_FILTER    Gopher-style rule gate (word count / mean token
                 length / alpha fraction; the English-marker stopword
                 rule stays OFF in the multilingual pipeline —
                 queries/pii.py::gopher_rule_violations)
  PII_REDACT     email/phone/IPv4 -> typed placeholders
                 (queries/pii.py::redact_pii) — applied BEFORE dedup
                 so fingerprints and signatures see redacted text
  LINE_SCRUB     C4-style destructive boilerplate-line removal: lines
                 spread across > line_doc_max documents are cut from
                 every doc; emptied docs dropped (the accounting twin
                 is queries/dedup.py::line_dedup_stats)
  SCORE_FILTER   quality_score >= threshold (functions/text.py)
  CLASSIFIER_FILTER
                 broadcast linear quality-classifier inference
                 (functions/classifier.py): every doc gets a
                 cls_logit_milli column; docs below
                 classifier_min_logit_milli are cut when the
                 threshold is set (None = score-and-keep, the
                 annotate-only mode production pipelines use to
                 calibrate a threshold before enforcing it)
  EXACT_DEDUP    keep-first on the normalized content fingerprint
  NEAR_DEDUP     MinHash-LSH pairs -> connected components -> keep the
                 highest-quality doc per cluster (queries/dedup.py +
                 queries/training.py machinery on the filtered subset)
  PARAGRAPH_SCRUB
                 sub-document fuzzy dedup: paragraphs (PARA_WORDS-word
                 chunks) with a cross-doc MinHash near-dup keep only
                 the smallest-(doc, idx) copy; later copies are cut
                 from their docs and texts rebuilt (the grain
                 line-exact and doc-level fuzzy dedup both miss —
                 queries/dedup.py paragraph machinery)
  SPAN_SCRUB     ExactSubstr-style cross-doc duplicated-SPAN removal
                 (Lee et al. 2022 keep-first): token positions covered
                 by a word-3-gram occurring in another document are cut
                 unless this doc is the gram's min-doc_id owner; texts
                 rebuilt, emptied docs dropped (accounting twin:
                 queries/dedup.py::span_scrub_stats)
  CONTAINMENT_SCRUB
                 rare-shingle containment pass (the partial-copy family
                 minhash-threshold dedup misses, C >= containment_min):
                 the CONTAINED side (fewer shingles; ties keep-first)
                 is dropped — queries/dedup.py containment machinery on
                 the surviving subset
  MIXTURE_SAMPLE per-source temperature budgets spent via the map-side
                 hash threshold (the scale form)
  FINAL_WRITE    survivors written lang-partitioned, doc_id-sorted
  VERIFY         read-back count == survivor count

Each stage MATERIALIZES its survivors to a stage directory inside the
work dir, which is what makes the pipeline restartable: the step
runner persists per-step history (plans/history.py), and a resumed
run skips completed stages and reads their on-disk output instead of
recomputing — the same crash contract as the chunked offload runner.
At 100 TB each stage is one bounded pass over the previous stage's
(shrinking) output; the funnel report records rows and tokens in/out
per stage, which is the artifact a curation run is FOR (what got cut,
where, and why).
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from goe_spark.functions import text as T
from goe_spark.functions.hashing import hash64
from goe_spark.plans.history import COMMAND_ERROR, ExecutionHistoryStore
from goe_spark.plans.metadata import atomic_write_json
from goe_spark.plans.steps import StepRunner

STAGES = (
    "CRAWL_DEDUP",
    "HYGIENE_SCRUB",
    "RULE_FILTER",
    "PII_REDACT",
    "LINE_SCRUB",
    "SCORE_FILTER",
    "CLASSIFIER_FILTER",
    "EXACT_DEDUP",
    "NEAR_DEDUP",
    "PARAGRAPH_SCRUB",
    "SPAN_SCRUB",
    "CONTAINMENT_SCRUB",
    "MIXTURE_SAMPLE",
    "FINAL_WRITE",
    "VERIFY",
)


@dataclass
class CurationConfig:
    source_sf_dir: str
    work_dir: str  # stage outputs + final table + funnel.json
    metadata_dir: str
    quality_min: float = 0.5
    token_budget: int = 150_000
    owner: str = "curation"
    table_name: str = "documents"
    # LINE_SCRUB: a line (LINE_WORDS-word chunk) occurring in MORE
    # than this many documents corpus-wide is boilerplate and is cut
    # from every document (C4's line-dedup rule, as a destructive
    # stage over the accounting in queries/dedup.py::line_dedup_stats)
    line_doc_max: int = 2
    # CONTAINMENT_SCRUB: drop the contained side of pairs whose
    # shingle containment |A∩B|/min(|A|,|B|) meets this threshold
    containment_min: float = 0.9
    # CLASSIFIER_FILTER: cut docs whose fixed-point classifier logit
    # (functions/classifier.py) is below this many milli-units; None
    # annotates (cls_logit_milli column) without cutting
    classifier_min_logit_milli: int | None = None
    # PARAGRAPH_SCRUB: MinHash agreement floor for a cross-doc
    # paragraph duplicate (queries/dedup.py PARA_SIM_MIN)
    para_sim_min: float = 0.6
    # SPAN_SCRUB: minimum duplicated-run length (tokens) a cut must
    # sit in; 1 = cut every duplicated 3-gram position (the
    # aggressive pre-round-13 behaviour), higher = Lee et al.'s
    # minimum-span threshold, calibrated with span_run_stats
    span_min_run: int = 1


@dataclass
class CurationReport:
    funnel: list = field(default_factory=list)  # (stage, rows, tokens)
    final_rows: int = 0
    resumed_steps: int = 0
    execution_id: str = ""


def _stage_dir(cfg: CurationConfig, stage: str) -> str:
    return os.path.join(cfg.work_dir, f"stage_{stage.lower()}")


def _write_stage(df: DataFrame, path: str) -> None:
    # tmp + rename: a crash mid-write can't leave a half-stage that a
    # resume would mistake for complete.
    tmp = path + ".tmp"
    df.write.mode("overwrite").parquet(tmp)
    if os.path.isdir(path):
        import shutil

        shutil.rmtree(path)
    os.rename(tmp, path)


def scrub_boilerplate_lines(d: DataFrame, line_doc_max: int) -> DataFrame:
    """Destructive boilerplate-line removal (the C4 line-dedup rule):
    split each doc into the same deterministic LINE_WORDS word chunks
    line_dedup_stats accounts, count each line's DISTINCT-document
    spread corpus-wide, and cut every line whose spread exceeds
    ``line_doc_max`` from every document; docs left empty are dropped.
    Idempotent: every surviving line is exactly LINE_WORDS words
    except each doc's final partial chunk, so re-chunking the rebuilt
    text reproduces the same lines — a second pass removes nothing
    (property-tested in tests/test_curation.py).

    Scale: the spread count shuffles (fp, doc-distinct partials)
    only; the heavy set is boilerplate-cardinality and broadcasts
    into an anti-join against the (doc_id, pos, line) relation; the
    rebuild groups lines by doc_id — one doc per group, text
    reassembled in position order."""
    from goe_spark.queries.dedup import LINE_WORDS

    toks = F.split(F.trim(F.col("text")), r"\s+")
    n_chunks = F.ceil(F.size("toks") / LINE_WORDS).cast("int")
    chunks = (
        d.select("doc_id", "lang", "source", toks.alias("toks"))
        .select(
            "doc_id",
            "lang",
            "source",
            F.posexplode(
                F.transform(
                    F.sequence(F.lit(0), n_chunks - 1),
                    lambda i: F.array_join(
                        F.slice(
                            F.col("toks"), i * LINE_WORDS + 1, LINE_WORDS
                        ),
                        " ",
                    ),
                )
            ).alias("pos", "line"),
        )
        .withColumn("fp", hash64(F.col("line")))
    )
    heavy = (
        chunks.groupBy("fp")
        .agg(F.count_distinct("doc_id").alias("n_docs"))
        .where(F.col("n_docs") > line_doc_max)
        .select("fp")
    )
    kept_lines = chunks.join(F.broadcast(heavy), "fp", "left_anti")
    return (
        kept_lines.groupBy("doc_id", "lang", "source")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "line"))),
                    lambda s: s["line"],
                ),
                " ",
            ).alias("text")
        )
        .where(F.length(F.trim("text")) > 0)
        .withColumn("n_tokens", T.token_count("text"))
    )



def scrub_duplicate_paragraphs(d: DataFrame, sim_min: float) -> DataFrame:
    """Destructive sub-document near-dup removal with TRANSITIVE
    cluster semantics (same rule as the NEAR_DEDUP stage): connected
    components over the cross-doc paragraph near-dup pair graph, one
    survivor per component — the smallest-(doc_id, idx) member — and
    every other member is cut from its document; texts rebuilt from
    the surviving chunks, emptied docs dropped, token counts
    recomputed. (Pre-r12 this cut pid2 of every pair, which kept
    non-minimal nodes that never appeared as a pair's larger side —
    inconsistent with NEAR_DEDUP's CC labels.)

    Plan: the pair generator is the SAME banded-LSH path as
    paragraph_dedup_stats (queries/dedup.py::paragraph_dup_pairs);
    CC runs on the pair-bounded edge list only (driver union-find
    under CC_DRIVER_EDGE_CAP, distributed min-label propagation
    above); the cut set aggregates to (doc_id, [idx]) — tiny next to
    the corpus — and the text rebuild is map-side array surgery after
    that one join: paragraph token arrays never shuffle."""
    from goe_spark.queries.dedup import (
        PARA_KEY_BASE,
        PARA_WORDS,
        _paragraph_sigs,
        paragraph_dup_pairs,
    )
    from goe_spark.queries.training import _cc_labels

    spark = d.sparkSession
    sigs = _paragraph_sigs(spark, "", docs=d)
    # checkpoint: _cc_labels counts the edges and then iterates over
    # them — without this the LSH pair job would replay per reference
    edges = (
        paragraph_dup_pairs(sigs, sim_min)
        .select(F.col("pid1").alias("id1"), F.col("pid2").alias("id2"))
        .localCheckpoint(eager=True)
    )
    labels = _cc_labels(spark, "", edges=edges)
    # keep the component-min pid; cut every other member. doc_id
    # decode uses exact integer division (`div`) — F.floor(pid /
    # base) goes through double and loses exactness past 2^53, i.e.
    # doc_id above ~1.4e11, inside the 100 TB design regime.
    cut_idx = (
        labels.where(F.col("node") != F.col("label"))
        .select(F.col("node").alias("pid"))
        .select(
            F.expr(f"pid div {PARA_KEY_BASE}").cast("long").alias("doc_id"),
            F.pmod(F.col("pid"), F.lit(PARA_KEY_BASE)).cast("int").alias("i"),
        )
        .groupBy("doc_id")
        .agg(F.collect_set("i").alias("cut_idxs"))
    )
    toks = F.split(F.trim(F.col("text")), r"\s+")
    n_paras = F.ceil(F.size(F.col("toks")) / PARA_WORDS).cast("int")
    with_ps = d.withColumn("toks", toks).withColumn(
        "ps",
        F.transform(
            F.sequence(F.lit(0), n_paras - 1),
            lambda i: F.struct(
                i.cast("int").alias("idx"),
                F.slice(F.col("toks"), i * PARA_WORDS + 1, PARA_WORDS).alias(
                    "ptoks"
                ),
            ),
        ),
    )
    kept_ps = F.filter(
        F.col("ps"),
        lambda p: F.col("cut_idxs").isNull()
        | ~F.array_contains(F.col("cut_idxs"), p["idx"]),
    )
    rebuilt = (
        with_ps.join(cut_idx, "doc_id", "left")
        .withColumn(
            "text",
            F.array_join(
                F.flatten(F.transform(kept_ps, lambda p: p["ptoks"])), " "
            ),
        )
        .where(F.size(kept_ps) > 0)
        .drop("toks", "ps", "cut_idxs")
    )
    if "n_tokens" in d.columns:
        rebuilt = rebuilt.withColumn("n_tokens", T.token_count("text"))
    return rebuilt.select(*d.columns)


def scrub_duplicate_spans(d: DataFrame, min_run: int = 1) -> DataFrame:
    """Destructive ExactSubstr-style cross-doc duplicated-span removal
    with keep-first semantics: every token position covered by a
    word-3-gram that also occurs in another document is cut, unless
    this document is the gram's min-doc_id owner. The owner keeps its
    copy of the grams IT owns, but where duplicated grams with
    different owners overlap, an owned position can still be cut by a
    neighbouring gram owned elsewhere — so "one copy survives" holds
    per gram, and for whole spans only when they don't overlap
    distinct-owner grams (see _span_cuts and
    tests/test_curation.py::test_span_scrub_overlapping_owners).
    Texts rebuilt from surviving tokens, emptied docs dropped, token
    counts recomputed. (Lee et al. 2022 "Deduplicating Training Data
    Makes Language Models Better" — the destructive twin of the
    cross_doc_ngram_coverage diagnostic; the accounting queries are
    queries/dedup.py::span_scrub_stats /
    span_scrub_thresholded_stats.)

    min_run > 1 applies Lee et al.'s minimum-span threshold: only
    maximal runs of >= min_run consecutive duplicated positions are
    cut, so short incidental overlaps survive. min_run=1 cuts every
    duplicated position (the aggressive end).

    Plan: the cut sets come from queries/dedup.py::_span_cuts
    (gram-grain min/max stats, 1:1 fan-out join — nothing
    corpus-quadratic; thresholding adds doc-partitioned
    gaps-and-islands windows over candidate rows only); the rebuild
    is map-side array surgery after one doc-grain join, same shape
    as scrub_duplicate_paragraphs."""
    from goe_spark.queries.dedup import _span_cuts

    cuts = _span_cuts(d, min_run=min_run).select("doc_id", "cut_idxs")
    with_toks = d.withColumn(
        "toks", F.split(F.trim(F.col("text")), r"\s+")
    )
    kept_toks = F.when(
        F.col("cut_idxs").isNull(), F.col("toks")
    ).otherwise(
        F.filter(
            F.col("toks"),
            lambda x, i: ~F.array_contains(F.col("cut_idxs"), i),
        )
    )
    rebuilt = (
        with_toks.join(cuts, "doc_id", "left")
        .withColumn("text", F.array_join(kept_toks, " "))
        .where(F.size(kept_toks) > 0)
        .drop("toks", "cut_idxs")
    )
    if "n_tokens" in d.columns:
        rebuilt = rebuilt.withColumn("n_tokens", T.token_count("text"))
    return rebuilt.select(*d.columns)


def _counts(spark: SparkSession, path: str) -> tuple[int, int]:
    df = spark.read.parquet(path)
    row = df.agg(
        F.count(F.lit(1)), F.coalesce(F.sum("n_tokens"), F.lit(0))
    ).first()
    return int(row[0]), int(row[1])


class CurationPipeline:
    def __init__(self, spark: SparkSession, cfg: CurationConfig):
        self.spark = spark
        self.cfg = cfg

    # ---- stages ------------------------------------------------------

    def _crawl_dedup(self) -> None:
        from pyspark.sql.window import Window

        from goe_spark.catalog import load_table
        from goe_spark.queries.profiling import _synth_url_exprs

        d = load_table(self.spark, self.cfg.source_sf_dir, "documents")
        _, canon, _ = _synth_url_exprs()
        w = Window.partitionBy(canon)
        kept = (
            d.withColumn("keep_id", F.min("doc_id").over(w))
            .where(F.col("doc_id") == F.col("keep_id"))
            .drop("keep_id")
            .withColumn("n_tokens", T.token_count("text"))
        )
        _write_stage(kept, _stage_dir(self.cfg, "CRAWL_DEDUP"))

    def _hygiene_scrub(self) -> None:
        d = self.spark.read.parquet(_stage_dir(self.cfg, "CRAWL_DEDUP"))
        scrubbed = d.select(
            "doc_id",
            "lang",
            "source",
            T.hygiene_scrub("text").alias("text"),
        ).where(F.length(F.trim("text")) > 0).withColumn(
            "n_tokens", T.token_count("text")
        )
        _write_stage(scrubbed, _stage_dir(self.cfg, "HYGIENE_SCRUB"))

    def _rule_filter(self) -> None:
        from goe_spark.queries.pii import gopher_keep

        d = self.spark.read.parquet(
            _stage_dir(self.cfg, "HYGIENE_SCRUB")
        )
        kept = d.select(
            "doc_id",
            "lang",
            "source",
            "text",
            T.token_count("text").alias("n_tokens"),
        ).where(gopher_keep(F.col("text"), require_stopwords=False))
        _write_stage(kept, _stage_dir(self.cfg, "RULE_FILTER"))

    def _pii_redact(self) -> None:
        from goe_spark.queries.pii import redact_pii

        d = self.spark.read.parquet(_stage_dir(self.cfg, "RULE_FILTER"))
        red = d.withColumn("text", redact_pii(F.col("text"))).withColumn(
            "n_tokens", T.token_count("text")
        )
        _write_stage(red, _stage_dir(self.cfg, "PII_REDACT"))

    def _line_scrub(self) -> None:
        d = self.spark.read.parquet(_stage_dir(self.cfg, "PII_REDACT"))
        rebuilt = scrub_boilerplate_lines(d, self.cfg.line_doc_max)
        _write_stage(rebuilt, _stage_dir(self.cfg, "LINE_SCRUB"))

    def _score_filter(self) -> None:
        d = self.spark.read.parquet(_stage_dir(self.cfg, "LINE_SCRUB"))
        scored = d.select(
            "doc_id",
            "lang",
            "source",
            "text",
            T.quality_score("text").alias("quality"),
            T.token_count("text").alias("n_tokens"),
        ).where(F.col("quality") >= self.cfg.quality_min)
        _write_stage(scored, _stage_dir(self.cfg, "SCORE_FILTER"))

    def _classifier_filter(self) -> None:
        from goe_spark.functions.classifier import classifier_logit_milli

        d = self.spark.read.parquet(_stage_dir(self.cfg, "SCORE_FILTER"))
        scored = d.withColumn(
            "cls_logit_milli", classifier_logit_milli(F.col("text"))
        )
        if self.cfg.classifier_min_logit_milli is not None:
            scored = scored.where(
                F.col("cls_logit_milli")
                >= int(self.cfg.classifier_min_logit_milli)
            )
        _write_stage(scored, _stage_dir(self.cfg, "CLASSIFIER_FILTER"))

    def _exact_dedup(self) -> None:
        from pyspark.sql.window import Window

        d = self.spark.read.parquet(
            _stage_dir(self.cfg, "CLASSIFIER_FILTER")
        )
        norm = F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " ")
        w = Window.partitionBy(hash64(norm))
        kept = (
            d.withColumn("keep_id", F.min("doc_id").over(w))
            .where(F.col("doc_id") == F.col("keep_id"))
            .drop("keep_id")
        )
        _write_stage(kept, _stage_dir(self.cfg, "EXACT_DEDUP"))

    def _near_dedup(self) -> None:
        from goe_spark.queries.training import _cc_labels

        d = self.spark.read.parquet(_stage_dir(self.cfg, "EXACT_DEDUP"))
        labels = _cc_labels(self.spark, self.cfg.source_sf_dir, docs=d)
        # Per cluster keep the max (quality, -doc_id): join labels back
        # (pair-bounded relation, broadcastable) and drop non-keepers.
        scored = labels.join(
            d.select("doc_id", "quality"),
            labels.node == F.col("doc_id"),
        ).select(
            F.col("label").alias("cluster_id"), F.col("doc_id"), F.col("quality")
        )
        keepers = scored.groupBy("cluster_id").agg(
            F.max_by(
                "doc_id", F.struct(F.col("quality"), -F.col("doc_id"))
            ).alias("keep_doc_id")
        )
        doomed = (
            scored.join(keepers, "cluster_id")
            .where(F.col("doc_id") != F.col("keep_doc_id"))
            .select("doc_id")
        )
        kept = d.join(F.broadcast(doomed), "doc_id", "left_anti")
        _write_stage(kept, _stage_dir(self.cfg, "NEAR_DEDUP"))

    def _paragraph_scrub(self) -> None:
        d = self.spark.read.parquet(_stage_dir(self.cfg, "NEAR_DEDUP"))
        kept = scrub_duplicate_paragraphs(d, self.cfg.para_sim_min)
        _write_stage(kept, _stage_dir(self.cfg, "PARAGRAPH_SCRUB"))

    def _span_scrub(self) -> None:
        from pyspark.sql.window import Window

        d = self.spark.read.parquet(
            _stage_dir(self.cfg, "PARAGRAPH_SCRUB")
        )
        kept = scrub_duplicate_spans(d, self.cfg.span_min_run)
        # Span removal can make two previously-distinct docs
        # textually IDENTICAL (their only difference was the cut
        # span), silently undoing EXACT_DEDUP's invariant — so the
        # stage re-establishes it with the same keep-first fingerprint
        # rule, one hash-groupBy over the stage's (shrunken) output.
        norm = F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " ")
        w = Window.partitionBy(hash64(norm))
        kept = (
            kept.withColumn("keep_id", F.min("doc_id").over(w))
            .where(F.col("doc_id") == F.col("keep_id"))
            .drop("keep_id")
        )
        _write_stage(kept, _stage_dir(self.cfg, "SPAN_SCRUB"))

    def _containment_scrub(self) -> None:
        from goe_spark.queries.dedup import (
            CONTAINMENT_DF_CAP,
            _shingle_hashed,
        )

        d = self.spark.read.parquet(_stage_dir(self.cfg, "SPAN_SCRUB"))
        shingled = _shingle_hashed(
            self.spark, self.cfg.source_sf_dir, docs=d
        ).select("doc_id", F.array_distinct("sh").alias("shd"))
        posts = shingled.select("doc_id", F.explode("shd").alias("sh"))
        # count-first-then-collect: never materialize a boilerplate
        # shingle's full posting list (queries/dedup.py, sf10 lesson)
        rare_sh = (
            posts.groupBy("sh")
            .agg(F.count(F.lit(1)).alias("df"))
            .where(
                (F.col("df") >= 2) & (F.col("df") <= CONTAINMENT_DF_CAP)
            )
            .select("sh")
        )
        rare = (
            posts.join(rare_sh, "sh")
            .groupBy("sh")
            .agg(F.array_sort(F.collect_set("doc_id")).alias("ids"))
        )
        n = F.size("ids")
        pair_structs = F.flatten(
            F.transform(
                F.col("ids"),
                lambda x, i: F.transform(
                    F.slice(F.col("ids"), i + 2, n - i - 1),
                    lambda y: F.struct(x.alias("id1"), y.alias("id2")),
                ),
            )
        )
        cands = (
            rare.where(n >= 2)
            .select(F.explode_outer(pair_structs).alias("p"))
            .select("p.id1", "p.id2")
            .distinct()
        )
        scored = cands.join(
            shingled.select(
                F.col("doc_id").alias("id1"), F.col("shd").alias("shd1")
            ),
            "id1",
        ).join(
            shingled.select(
                F.col("doc_id").alias("id2"), F.col("shd").alias("shd2")
            ),
            "id2",
        )
        n_common = F.size(F.array_intersect("shd1", "shd2"))
        containment = n_common / F.least(F.size("shd1"), F.size("shd2"))
        # drop the CONTAINED side: fewer shingles loses; equal sizes
        # keep-first (higher doc_id loses)
        doomed = (
            scored.where(containment >= self.cfg.containment_min)
            .select(
                F.when(
                    F.size("shd1") < F.size("shd2"), F.col("id1")
                )
                .when(F.size("shd2") < F.size("shd1"), F.col("id2"))
                .otherwise(F.greatest("id1", "id2"))
                .alias("doc_id")
            )
            .distinct()
        )
        kept = d.join(F.broadcast(doomed), "doc_id", "left_anti")
        _write_stage(kept, _stage_dir(self.cfg, "CONTAINMENT_SCRUB"))

    def _mixture_sample(self) -> None:
        from goe_spark.queries.training import mixture_threshold_pick

        d = self.spark.read.parquet(
            _stage_dir(self.cfg, "CONTAINMENT_SCRUB")
        )
        picked = mixture_threshold_pick(d, self.cfg.token_budget)
        _write_stage(
            picked.drop("total_tokens", "budget_tokens"),
            _stage_dir(self.cfg, "MIXTURE_SAMPLE"),
        )

    def _final_write(self) -> None:
        d = self.spark.read.parquet(_stage_dir(self.cfg, "MIXTURE_SAMPLE"))
        out = os.path.join(self.cfg.work_dir, "final")
        tmp = out + ".tmp"
        (
            d.repartition("lang")
            .sortWithinPartitions("doc_id")
            .write.mode("overwrite")
            .partitionBy("lang")
            .parquet(tmp)
        )
        if os.path.isdir(out):
            import shutil

            shutil.rmtree(out)
        os.rename(tmp, out)

    def _verify(self) -> int:
        out = os.path.join(self.cfg.work_dir, "final")
        n_final = self.spark.read.parquet(out).count()
        n_sampled, _ = _counts(
            self.spark, _stage_dir(self.cfg, "MIXTURE_SAMPLE")
        )
        if n_final != n_sampled:
            raise RuntimeError(
                f"final table has {n_final} rows, sampler kept {n_sampled}"
            )
        return n_final

    # ---- driver ------------------------------------------------------

    def run(
        self,
        skip: set[str] | None = None,
        error_at: str | None = None,
        resume: bool = True,
    ) -> CurationReport:
        cfg = self.cfg
        os.makedirs(cfg.work_dir, exist_ok=True)
        history = ExecutionHistoryStore(cfg.metadata_dir)
        resume_done: set[str] = set()
        command_input = {
            "source_sf_dir": cfg.source_sf_dir,
            "quality_min": cfg.quality_min,
            "budget": cfg.token_budget,
            # every stage-shaping parameter must be part of the resume
            # key: a changed --line-doc-max would otherwise silently
            # reuse LINE_SCRUB output computed under the old threshold
            # (round-9 ADVICE)
            "line_doc_max": cfg.line_doc_max,
            "containment_min": cfg.containment_min,
            "classifier_min_logit_milli": cfg.classifier_min_logit_milli,
            "para_sim_min": cfg.para_sim_min,
            "span_min_run": cfg.span_min_run,
        }
        if resume:
            runs = [
                r
                for r in history.list_executions(cfg.owner, cfg.table_name)
                if r.command_type == "CURATION"
            ]
            prior = runs[-1] if runs else None
            # Resume ONLY a failed run with the SAME parameters: a
            # successful prior run must recompute (fresh results were
            # asked for), and a parameter change invalidates every
            # stage — silently returning stages computed under old
            # parameters would be a wrong answer, not a fast one.
            if prior is not None and (
                prior.status == COMMAND_ERROR
                and prior.command_input == command_input
            ):
                done = history.completed_steps(prior)
            else:
                done = set()
            # Only trust a recorded step if its stage output survived.
            for s in STAGES[:-1]:
                if s in done and (
                    os.path.isdir(_stage_dir(cfg, s))
                    or (
                        s == "FINAL_WRITE"
                        and os.path.isdir(os.path.join(cfg.work_dir, "final"))
                    )
                ):
                    resume_done.add(s)
        runner = StepRunner(
            spark=self.spark,
            skip=skip or set(),
            error_at=error_at,
            resume_done=resume_done,
        )
        with runner.command(
            history, "CURATION", cfg.owner, cfg.table_name, command_input
        ) as execution:
            runner.run("CRAWL_DEDUP", self._crawl_dedup)
            runner.run("HYGIENE_SCRUB", self._hygiene_scrub)
            runner.run("RULE_FILTER", self._rule_filter)
            runner.run("PII_REDACT", self._pii_redact)
            runner.run("LINE_SCRUB", self._line_scrub)
            runner.run("SCORE_FILTER", self._score_filter)
            runner.run("CLASSIFIER_FILTER", self._classifier_filter)
            runner.run("EXACT_DEDUP", self._exact_dedup)
            runner.run("NEAR_DEDUP", self._near_dedup)
            runner.run("PARAGRAPH_SCRUB", self._paragraph_scrub)
            runner.run("SPAN_SCRUB", self._span_scrub)
            runner.run("CONTAINMENT_SCRUB", self._containment_scrub)
            runner.run("MIXTURE_SAMPLE", self._mixture_sample)
            runner.run("FINAL_WRITE", self._final_write)
            n_final = runner.run("VERIFY", self._verify)

        report = CurationReport(
            final_rows=int(n_final or 0),
            resumed_steps=len(resume_done),
            execution_id=execution.execution_id,
        )
        for s in STAGES[:-2]:
            rows, toks = _counts(self.spark, _stage_dir(cfg, s))
            report.funnel.append((s, rows, toks))
        atomic_write_json(
            os.path.join(cfg.work_dir, "funnel.json"),
            {
                "funnel": report.funnel,
                "final_rows": report.final_rows,
                "execution_id": report.execution_id,
            },
        )
        return report
