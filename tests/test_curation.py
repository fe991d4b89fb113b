"""End-to-end corpus curation pipeline (plans/curation.py): funnel
monotonicity, stage semantics (no surviving exact dup, no surviving
near-dup pair, budget respected), determinism, and crash-resume via
persisted step history."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from goe_spark.plans.curation import CurationConfig, CurationPipeline
from goe_spark.plans.steps import StepError
from tests.conftest import SF_SMALL


@pytest.fixture(scope="module")
def finished(spark, tmp_path_factory):
    base = tmp_path_factory.mktemp("curation")
    cfg = CurationConfig(
        source_sf_dir=SF_SMALL,
        work_dir=str(base / "work"),
        metadata_dir=str(base / "meta"),
        quality_min=0.4,
        token_budget=120_000,
    )
    report = CurationPipeline(spark, cfg).run()
    return cfg, report


def test_funnel_monotone_and_persisted(spark, finished):
    cfg, report = finished
    rows = [r for (_, r, _) in report.funnel]
    assert all(a >= b for a, b in zip(rows, rows[1:])), report.funnel
    assert report.final_rows == rows[-1]
    with open(os.path.join(cfg.work_dir, "funnel.json")) as fh:
        disk = json.load(fh)
    assert disk["final_rows"] == report.final_rows
    assert len(disk["funnel"]) == 13  # incl. CRAWL/HYGIENE/CLASSIFIER/SPAN stages


def test_no_exact_duplicate_survives(spark, finished):
    cfg, _ = finished
    out = spark.read.parquet(os.path.join(cfg.work_dir, "final"))
    norm = F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " ")
    n = out.count()
    assert out.select(norm.alias("t")).distinct().count() == n


def test_no_near_dup_pair_survives(spark, finished):
    """Re-run pair generation over the FINAL table: every cluster
    collapsed to one member, so no (id1, id2) pair has both sides
    present."""
    from goe_spark.queries.dedup import minhash_lsh_pairs

    cfg, _ = finished
    out = spark.read.parquet(os.path.join(cfg.work_dir, "final"))
    pairs = minhash_lsh_pairs(spark, cfg.source_sf_dir, docs=out)
    assert pairs.count() == 0


def test_budget_not_exceeded_per_source(spark, finished):
    """The threshold sampler spends at most ~budget + sampling error
    per source; total stays within 2x of the configured budget."""
    cfg, _ = finished
    out = spark.read.parquet(os.path.join(cfg.work_dir, "final"))
    total = out.agg(F.sum("n_tokens")).first()[0]
    assert total <= 2 * cfg.token_budget


def test_deterministic_rerun(spark, finished, tmp_path):
    cfg, report = finished
    cfg2 = CurationConfig(
        source_sf_dir=cfg.source_sf_dir,
        work_dir=str(tmp_path / "work2"),
        metadata_dir=str(tmp_path / "meta2"),
        quality_min=cfg.quality_min,
        token_budget=cfg.token_budget,
    )
    report2 = CurationPipeline(spark, cfg2).run()
    assert report2.funnel == report.funnel
    assert report2.final_rows == report.final_rows


def test_crash_resume_skips_completed_stages(spark, tmp_path):
    cfg = CurationConfig(
        source_sf_dir=SF_SMALL,
        work_dir=str(tmp_path / "work"),
        metadata_dir=str(tmp_path / "meta"),
        quality_min=0.4,
        token_budget=120_000,
    )
    pipe = CurationPipeline(spark, cfg)
    with pytest.raises(StepError):
        pipe.run(error_at="MIXTURE_SAMPLE")
    # Crash left the first three stages on disk.
    assert os.path.isdir(os.path.join(cfg.work_dir, "stage_near_dedup"))
    assert not os.path.isdir(os.path.join(cfg.work_dir, "final"))

    report = pipe.run()  # resume
    # CRAWL_DEDUP, HYGIENE_SCRUB, RULE_FILTER, PII_REDACT, LINE_SCRUB,
    # SCORE_FILTER, CLASSIFIER_FILTER, EXACT_DEDUP, NEAR_DEDUP,
    # PARAGRAPH_SCRUB, SPAN_SCRUB, CONTAINMENT_SCRUB
    assert report.resumed_steps == 12
    assert report.final_rows > 0
    # History shows two executions: the failed one and the resumed one.
    from goe_spark.plans.history import ExecutionHistoryStore

    hist = ExecutionHistoryStore(cfg.metadata_dir)
    runs = [
        r
        for r in hist.list_executions(cfg.owner, cfg.table_name)
        if r.command_type == "CURATION"
    ]
    assert [r.status for r in runs] == ["ERROR", "SUCCESS"]


def test_interrupted_run_is_recorded_error(spark, tmp_path, monkeypatch):
    """A run stopped by KeyboardInterrupt ends its execution ERROR, not
    EXECUTING forever — resume only trusts a failed (ERROR) run."""
    from goe_spark.plans.history import ExecutionHistoryStore

    cfg = CurationConfig(
        source_sf_dir=SF_SMALL,
        work_dir=str(tmp_path / "work"),
        metadata_dir=str(tmp_path / "meta"),
    )

    def interrupted(self):
        raise KeyboardInterrupt

    monkeypatch.setattr(CurationPipeline, "_crawl_dedup", interrupted)
    with pytest.raises(KeyboardInterrupt):
        CurationPipeline(spark, cfg).run()
    rec = ExecutionHistoryStore(cfg.metadata_dir).latest(
        cfg.owner, cfg.table_name
    )
    assert rec.command_type == "CURATION"
    assert rec.status == "ERROR"
    assert rec.step_names("error") == ["CRAWL_DEDUP"]


def test_parameter_change_invalidates_resume(spark, tmp_path):
    """After a SUCCESSFUL run, re-running with different parameters
    must recompute from scratch — never return stages computed under
    the old parameters."""
    base = dict(
        source_sf_dir=SF_SMALL,
        work_dir=str(tmp_path / "work"),
        metadata_dir=str(tmp_path / "meta"),
        token_budget=120_000,
    )
    r1 = CurationPipeline(spark, CurationConfig(quality_min=0.4, **base)).run()
    r2 = CurationPipeline(spark, CurationConfig(quality_min=0.9, **base)).run()
    assert r2.resumed_steps == 0
    # A tighter threshold strictly shrinks the SCORE_FILTER stage
    # (the stages before it don't depend on quality_min).
    assert r2.funnel[5][1] < r1.funnel[5][1]
    assert r2.funnel[0][1] == r1.funnel[0][1]


def test_line_doc_max_change_invalidates_resume(spark, tmp_path):
    """Round-9 ADVICE: line_doc_max shapes the LINE_SCRUB stage, so it
    must be part of the resume key — resuming a FAILED run after
    changing --line-doc-max must recompute from scratch, never reuse
    LINE_SCRUB output computed under the old threshold."""
    base = dict(
        source_sf_dir=SF_SMALL,
        work_dir=str(tmp_path / "work"),
        metadata_dir=str(tmp_path / "meta"),
        quality_min=0.4,
        token_budget=120_000,
    )
    with pytest.raises(StepError):
        CurationPipeline(
            spark, CurationConfig(line_doc_max=2, **base)
        ).run(error_at="SCORE_FILTER")
    report = CurationPipeline(
        spark, CurationConfig(line_doc_max=10_000, **base)
    ).run()
    assert report.resumed_steps == 0
    # same parameters DO resume the failed run (the key is the tuple,
    # not mere failure)
    with pytest.raises(StepError):
        CurationPipeline(
            spark, CurationConfig(line_doc_max=2, **base)
        ).run(error_at="SCORE_FILTER", resume=False)
    r3 = CurationPipeline(
        spark, CurationConfig(line_doc_max=2, **base)
    ).run()
    assert r3.resumed_steps > 0


def test_double_crash_resume_chain(spark, tmp_path):
    """Resumed steps record 'ok' in the new execution's history, so a
    SECOND crash still resumes from the furthest completed stage
    instead of recomputing everything."""
    cfg = CurationConfig(
        source_sf_dir=SF_SMALL,
        work_dir=str(tmp_path / "work"),
        metadata_dir=str(tmp_path / "meta"),
        quality_min=0.4,
        token_budget=120_000,
    )
    pipe = CurationPipeline(spark, cfg)
    with pytest.raises(StepError):
        pipe.run(error_at="NEAR_DEDUP")  # crash 1: 6 stages done
    with pytest.raises(StepError):
        pipe.run(error_at="FINAL_WRITE")  # crash 2: resumes 6, adds 2
    report = pipe.run()
    # Third run resumes everything up to FINAL_WRITE.
    assert report.resumed_steps == 13
    assert report.final_rows > 0


def test_pii_redacted_and_junk_dropped(spark, tmp_path):
    """A planted corpus: the PII doc survives but redacted; the
    too-short doc dies at RULE_FILTER."""
    import pandas as pd

    from goe_spark.queries.pii import PII_KINDS, pii_count

    words = " ".join(["alpha beta gamma delta"] * 10)
    docs = pd.DataFrame(
        {
            "doc_id": [1, 2, 3],
            "text": [
                words + " reach me at jane@corp.example.org or 555-123-4567",
                words + " perfectly ordinary text",
                "too short",
            ],
            "lang": ["en", "en", "en"],
            "source": ["s1", "s1", "s1"],
            "n_chars": [100, 100, 9],
        }
    )
    src = tmp_path / "sf_pii"
    src.mkdir()
    docs.to_parquet(src / "documents.parquet")
    cfg = CurationConfig(
        source_sf_dir=str(src),
        work_dir=str(tmp_path / "work"),
        metadata_dir=str(tmp_path / "meta"),
        quality_min=0.0,
        token_budget=10_000,
    )
    report = CurationPipeline(spark, cfg).run()
    out = spark.read.parquet(os.path.join(cfg.work_dir, "final"))
    rows = {r.doc_id: r for r in out.collect()}
    assert set(rows) == {1, 2}  # doc 3 failed the word-count rule
    assert "[EMAIL]" in rows[1].text and "[PHONE]" in rows[1].text
    # closure: no residual PII anywhere in the final table
    resid = out.agg(
        F.sum(sum(pii_count("text", pat) for _, pat, _ in PII_KINDS))
    ).first()[0]
    assert resid == 0
    assert report.funnel[2][1] == 2  # RULE_FILTER already dropped doc 3


def test_line_scrub_cuts_boilerplate_keeps_unique(spark, tmp_path):
    """A 10-word footer planted in 4 docs (> line_doc_max=2) is cut
    from every survivor; unique body text survives verbatim; a doc
    that was ONLY boilerplate disappears."""
    footer = " ".join(f"foot{i}" for i in range(10))
    bodies = [
        " ".join(f"body{d}w{i}" for i in range(10)) for d in range(4)
    ]
    rows = [
        (d, bodies[d] + " " + footer, "en", f"src{d}", 0) for d in range(4)
    ] + [(4, footer, "en", "src4", 0)]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    src = tmp_path / "src"
    df.coalesce(1).write.parquet(str(src / "documents.parquet"))
    cfg = CurationConfig(
        source_sf_dir=str(src),
        work_dir=str(tmp_path / "work"),
        metadata_dir=str(tmp_path / "meta"),
        quality_min=0.0,
        token_budget=10_000,
    )
    report = CurationPipeline(spark, cfg).run()
    final = spark.read.parquet(os.path.join(cfg.work_dir, "final"))
    texts = {r.doc_id: r.text for r in final.collect()}
    assert set(texts) == {0, 1, 2, 3}  # the footer-only doc is gone
    for d, t in texts.items():
        assert "foot0" not in t
        assert t == bodies[d]
    stages = dict((s, r) for s, r, _ in report.funnel)
    assert stages["LINE_SCRUB"] == 4  # 5 in, footer-only doc dropped


def test_line_scrub_respects_threshold(spark, tmp_path):
    """The same footer in only 2 docs (== line_doc_max) survives."""
    footer = " ".join(f"keep{i}" for i in range(10))
    rows = [
        (d, " ".join(f"b{d}x{i}" for i in range(10)) + " " + footer,
         "en", f"s{d}", 0)
        for d in range(2)
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    src = tmp_path / "src2"
    df.coalesce(1).write.parquet(str(src / "documents.parquet"))
    cfg = CurationConfig(
        source_sf_dir=str(src),
        work_dir=str(tmp_path / "work2"),
        metadata_dir=str(tmp_path / "meta2"),
        quality_min=0.0,
        token_budget=10_000,
    )
    CurationPipeline(spark, cfg).run()
    scrubbed = spark.read.parquet(
        os.path.join(cfg.work_dir, "stage_line_scrub")
    )
    assert all("keep0" in r.text for r in scrubbed.collect())


def test_line_scrub_idempotent(spark):
    """scrub(scrub(corpus)) == scrub(corpus): surviving lines are all
    exactly LINE_WORDS words (bar each doc's final partial chunk), so
    re-chunking reproduces the same lines and their spreads only
    shrink — a second pass must remove nothing."""
    from goe_spark.catalog import load_table
    from goe_spark.plans.curation import scrub_boilerplate_lines

    d = load_table(spark, SF_SMALL, "documents").select(
        "doc_id", "lang", "source", "text"
    )
    once = scrub_boilerplate_lines(d, 2).select(
        "doc_id", "lang", "source", "text"
    )
    twice = scrub_boilerplate_lines(once, 2).select(
        "doc_id", "lang", "source", "text"
    )
    assert once.count() == twice.count()
    assert once.exceptAll(twice).count() == 0
    assert twice.exceptAll(once).count() == 0


def test_containment_scrub_catches_prefix_copy(spark, tmp_path):
    """A 25-word prefix copy of a 100-word doc has shingle Jaccard
    ~0.23 — below the LSH banding knee, so NEAR_DEDUP keeps it — but
    containment 1.0: CONTAINMENT_SCRUB must be the stage that drops
    it (the partial-copy blind spot the stage exists for)."""
    import pandas as pd

    from goe_spark.plans.curation import CurationConfig, CurationPipeline

    words = [f"alpha{i:02d}" for i in range(100)]
    a = " ".join(words)
    e = " ".join(words[:25])
    b = " ".join(f"beta{i:02d}" for i in range(30))
    docs = pd.DataFrame(
        {
            "doc_id": [1, 2, 3],
            "text": [a, e, b],
            "lang": ["en"] * 3,
            "source": ["s0"] * 3,
            "n_chars": [len(a), len(e), len(b)],
        }
    )
    src = tmp_path / "src"
    src.mkdir()
    spark.createDataFrame(docs).coalesce(1).write.parquet(
        str(src / "documents.parquet")
    )
    cfg = CurationConfig(
        source_sf_dir=str(src),
        work_dir=str(tmp_path / "work"),
        metadata_dir=str(tmp_path / "meta"),
        quality_min=0.0,
        token_budget=10_000_000,
        containment_min=0.8,
    )
    report = CurationPipeline(spark, cfg).run(resume=False)
    stages = {s: r for s, r, _ in report.funnel}
    assert stages["NEAR_DEDUP"] == 3, "LSH must NOT pair the prefix copy"
    assert stages["CONTAINMENT_SCRUB"] == 2
    final = spark.read.parquet(str(tmp_path / "work" / "final"))
    kept = {r.doc_id for r in final.select("doc_id").collect()}
    assert kept == {1, 3}, "the CONTAINED doc (2) must be dropped"


def test_classifier_stage_annotates_and_filters(spark, tmp_path):
    """Default (threshold None) annotates every survivor with
    cls_logit_milli without cutting; a set threshold cuts exactly the
    docs below it and is part of the resume key."""
    base = dict(
        source_sf_dir=SF_SMALL,
        metadata_dir=str(tmp_path / "meta"),
        token_budget=120_000,
        quality_min=0.0,
    )
    r1 = CurationPipeline(
        spark, CurationConfig(work_dir=str(tmp_path / "w1"), **base)
    ).run()
    stages1 = {s: r for s, r, _ in r1.funnel}
    assert stages1["CLASSIFIER_FILTER"] == stages1["SCORE_FILTER"]
    annotated = spark.read.parquet(
        str(tmp_path / "w1" / "stage_classifier_filter")
    )
    assert "cls_logit_milli" in annotated.columns
    logits = [r.cls_logit_milli for r in annotated.collect()]
    assert all(l is not None for l in logits)

    # threshold at the median logit cuts part of the stage input
    cut_at = sorted(logits)[len(logits) // 2]
    r2 = CurationPipeline(
        spark,
        CurationConfig(
            work_dir=str(tmp_path / "w2"),
            classifier_min_logit_milli=int(cut_at),
            **base,
        ),
    ).run()
    stages2 = {s: r for s, r, _ in r2.funnel}
    assert stages2["SCORE_FILTER"] == stages1["SCORE_FILTER"]
    assert stages2["CLASSIFIER_FILTER"] == sum(
        1 for l in logits if l >= cut_at
    )
    assert 0 < stages2["CLASSIFIER_FILTER"] < stages2["SCORE_FILTER"]


def test_classifier_matches_registry_operator(spark, tmp_path):
    """The stage's scores are the SAME inference the classifier_scores
    registry operator runs (one code path, two surfaces)."""
    from goe_spark.functions.classifier import classifier_logit_milli
    from pyspark.sql import functions as F

    from goe_spark.catalog import load_table

    d = load_table(spark, SF_SMALL, "documents").limit(20)
    a = {
        r.doc_id: r.l
        for r in d.select(
            "doc_id", classifier_logit_milli(F.col("text")).alias("l")
        ).collect()
    }
    assert len(a) == 20 and all(v is not None for v in a.values())


def test_paragraph_scrub_cuts_shared_paragraph(spark):
    """A paragraph copied between two docs keeps only the
    smallest-(doc, idx) copy; the host documents survive with the
    copy cut and token counts rebuilt; unrelated docs are untouched."""
    import pandas as pd

    from goe_spark.plans.curation import scrub_duplicate_paragraphs
    from goe_spark.queries.dedup import PARA_WORDS

    shared = " ".join(f"shared{i}" for i in range(PARA_WORDS))
    a_own = " ".join(f"alpha{i}" for i in range(PARA_WORDS))
    b_own = " ".join(f"beta{i}" for i in range(PARA_WORDS))
    c_own = " ".join(f"gamma{i}" for i in range(PARA_WORDS))
    docs = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1, 2, 3],
                "lang": ["en"] * 3,
                "text": [
                    a_own + " " + shared,   # doc 1: owns para 0, shared at 1
                    shared + " " + b_own,   # doc 2: shared at 0 -> cut
                    c_own,                  # doc 3: untouched
                ],
            }
        )
    ).withColumn("n_tokens", F.size(F.split(F.trim("text"), r"\s+")))
    out = {r.doc_id: r for r in scrub_duplicate_paragraphs(docs, 0.6).collect()}
    assert set(out) == {1, 2, 3}
    # doc 1 keeps both paragraphs (its shared copy is the canonical,
    # smallest pid); doc 2 loses the shared paragraph
    assert "shared0" in out[1].text and "alpha0" in out[1].text
    assert "shared0" not in out[2].text and "beta0" in out[2].text
    assert out[2].n_tokens == PARA_WORDS
    assert out[3].text == c_own
    # fully-duplicated doc disappears
    dup_only = spark.createDataFrame(
        pd.DataFrame(
            {"doc_id": [1, 9], "lang": ["en"] * 2, "text": [shared, shared]}
        )
    ).withColumn("n_tokens", F.size(F.split(F.trim("text"), r"\s+")))
    out2 = {r.doc_id for r in scrub_duplicate_paragraphs(dup_only, 0.6).collect()}
    assert out2 == {1}


def test_paragraph_scrub_stage_in_funnel(spark, finished):
    cfg, report = finished
    stages = {s: r for s, r, _ in report.funnel}
    assert "PARAGRAPH_SCRUB" in stages
    assert stages["PARAGRAPH_SCRUB"] <= stages["NEAR_DEDUP"]
    # re-running pair generation over the scrubbed stage finds no
    # remaining cross-doc paragraph dup
    from goe_spark.plans.curation import _stage_dir
    from goe_spark.queries.dedup import (
        _paragraph_sigs,
        paragraph_dup_pairs,
    )

    scrubbed = spark.read.parquet(_stage_dir(cfg, "PARAGRAPH_SCRUB"))
    sigs = _paragraph_sigs(spark, "", docs=scrubbed)
    assert paragraph_dup_pairs(sigs, cfg.para_sim_min).count() == 0


def test_hygiene_scrub_defeats_zero_width_dup_evasion(spark, tmp_path):
    """Two docs identical except an injected zero-width char (the
    classic dedup-evasion/watermark vector) collapse to ONE at
    EXACT_DEDUP because HYGIENE_SCRUB removed the char before any
    fingerprint saw the text; a doc that scrubs to nothing dies at
    the hygiene stage itself."""
    import pandas as pd

    words = " ".join(["alpha beta gamma delta"] * 10)
    docs = pd.DataFrame(
        {
            "doc_id": [1, 2, 3],
            "text": [
                words,
                words[:20] + "\u200B" + words[20:],  # zero-width clone
                "\u0007\u200B",  # scrubs to empty
            ],
            "lang": ["en"] * 3,
            "source": ["s"] * 3,
            "quality": [0.9] * 3,
        }
    )
    src_dir = tmp_path / "src"
    src_dir.mkdir()
    spark.createDataFrame(docs).write.parquet(
        str(src_dir / "documents.parquet")
    )
    cfg = CurationConfig(
        source_sf_dir=str(src_dir),
        work_dir=str(tmp_path / "work"),
        metadata_dir=str(tmp_path / "meta"),
        quality_min=0.0,
        token_budget=10_000,
    )
    report = CurationPipeline(spark, cfg).run()
    stages = {s: r for s, r, _ in report.funnel}
    assert stages["HYGIENE_SCRUB"] == 2  # empty-after-scrub doc dropped
    assert stages["EXACT_DEDUP"] == 1    # zero-width clone collapsed
    out = spark.read.parquet(os.path.join(cfg.work_dir, "final"))
    assert out.count() == 1
    assert "\u200B" not in out.first().text


def test_span_scrub_keep_first_and_reconstruction(spark):
    """A 3-gram span copied between two docs survives only in the
    min-doc_id owner; the other doc loses exactly the covered
    positions; docs made entirely of duplicated spans disappear; and
    — for NON-overlapping duplicated spans like this fixture's — the
    removed mass is reconstructible (the surviving corpus still
    contains every cut span). Overlapping distinct-owner grams break
    that guarantee: see test_span_scrub_overlapping_owners."""
    import pandas as pd

    from goe_spark.plans.curation import scrub_duplicate_spans

    span = "copied span here"          # one shared 3-gram
    docs = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1, 2, 3, 4],
                "lang": ["en"] * 4,
                "source": ["web"] * 4,
                "text": [
                    span + " plus owner suffix words",  # owner keeps all
                    "intro words then " + span,         # loses the span
                    "totally unrelated text body",      # untouched
                    span,                               # fully dup -> dropped
                ],
            }
        )
    ).withColumn("n_tokens", F.size(F.split(F.trim("text"), r"\s+")))
    out = {r.doc_id: r for r in scrub_duplicate_spans(docs).collect()}
    assert set(out) == {1, 2, 3}
    assert out[1].text.startswith(span)          # owner untouched
    assert "copied" not in out[2].text and out[2].text == "intro words then"
    assert out[2].n_tokens == 3
    assert out[3].text == "totally unrelated text body"
    # reconstruction: every cut token sequence still exists in doc 1
    assert span in out[1].text


def _docs_frame(spark, texts: list[str]):
    import pandas as pd

    return spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": list(range(1, len(texts) + 1)),
                "lang": ["en"] * len(texts),
                "source": ["web"] * len(texts),
                "text": texts,
            }
        )
    ).withColumn("n_tokens", F.size(F.split(F.trim("text"), r"\s+")))


def test_span_scrub_overlapping_owners(spark):
    """Keep-first is a per-GRAM guarantee, not per-SPAN: when
    duplicated 3-grams with different owners overlap, a doc's copy of
    a gram it OWNS can be cut by a neighbouring gram owned elsewhere,
    and a span can vanish from every surviving doc (the round-12
    ADVICE example). Pinned so the scoped docstring claim stays
    honest."""
    from goe_spark.plans.curation import scrub_duplicate_spans

    docs = _docs_frame(
        spark, ["a b c x", "a b c d e", "b c d e z"]
    )
    out = {r.doc_id: r for r in scrub_duplicate_spans(docs).collect()}
    # doc1 owns (a,b,c) and keeps everything
    assert out[1].text == "a b c x"
    # doc2 OWNS (b,c,d) and (c,d,e) yet loses positions 0-2 to
    # doc1-owned (a,b,c) — its copy of 'b c' goes with them
    assert out[2].text == "d e"
    # doc3 loses 0-3 to the doc2-owned grams, keeping only 'z'
    assert out[3].text == "z"
    # the span 'b c d' survives NOWHERE — reconstruction does not
    # hold once distinct-owner grams overlap
    assert all("b c d" not in r.text for r in out.values())


def test_span_scrub_min_run_keeps_short_overlaps(spark):
    """--span-min-run (Lee et al.'s minimum-span threshold): at a
    mid threshold a short incidental overlap (one shared 3-gram)
    survives while a long duplicated span is still scrubbed; at
    min_run=1 the stage reduces to the aggressive cut-every-position
    behaviour."""
    from goe_spark.plans.curation import scrub_duplicate_spans

    long_span = "one two three four five six seven eight nine ten"
    short_span = "new york city"
    docs = _docs_frame(
        spark,
        [
            long_span + " pad1 pad2 " + short_span,  # owner of both
            "intro1 intro2 " + long_span + " tail1 tail2",
            short_span + " misc1 misc2 misc3",
        ],
    )
    thresholded = {
        r.doc_id: r for r in scrub_duplicate_spans(docs, 8).collect()
    }
    # the 10-token duplicated run is >= 8: still cut from doc2
    assert thresholded[2].text == "intro1 intro2 tail1 tail2"
    # the 3-token incidental overlap is < 8: doc3 keeps it
    assert thresholded[3].text == short_span + " misc1 misc2 misc3"
    # the owner is untouched either way
    assert thresholded[1].text.startswith(long_span)

    # min_run=1 must equal the default aggressive behaviour
    default = {r.doc_id: r.text for r in scrub_duplicate_spans(docs).collect()}
    explicit = {
        r.doc_id: r.text for r in scrub_duplicate_spans(docs, 1).collect()
    }
    assert default == explicit
    assert explicit[3] == "misc1 misc2 misc3"  # short overlap cut at L=1
