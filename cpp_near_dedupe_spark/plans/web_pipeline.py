"""Crawl-to-clean-corpus composition: the end-to-end training-data flow.

A user of the reference engine runs near-dedup as ONE stage of a larger
corpus pipeline. This plan composes the repo's web operators into that
pipeline over the north-rule pages shape ``(url, warc_ts, html, text,
lang)``:

  pages ─1─▶ crawl-identity dedupe  (canonicalize_url; one survivor per
             canonical url, chosen by min content hash — deterministic,
             content-based, engine-independent)
        ─2─▶ HTML → text extraction (html_text.extract_text)
        ─3─▶ Gopher hard quality gate (quality_rules.gopher_passes)
        ─4─▶ PII scrub              (pii.pii_scrub_expr)
        ─5─▶ corpus-wide boilerplate removal at sentence granularity
             (text_analysis.remove_repeated_lines, sep='. ' — extraction
             collapses newlines, so the C4 line-level filter becomes
             sentence-level here; ``boiler_min_docs`` defaults high
             because at web scale only truly-global chrome should go)
        ─6─▶ near-duplicate dedupe  (run_pipeline md5 family keyed by
             canonical url; min-url representative)
        ─7─▶ benchmark decontamination (decontamination.ngram_contamination
             against a caller-supplied eval corpus; skipped when absent)

Every stage is an already-hash-verified operator; the composition itself
is verified by the ``web_clean_report`` driver query whose DuckDB oracle
replays all seven stages in one SQL statement. Two further hash-verified
gates slot in after stage 2 when a deployment wants them — C4 line/page
filtering (``operators/c4_filters.c4_clean``; its ``clean_text`` replaces
``text`` and ``keep_page`` filters) and the Gopher repetition gate
(``operators/quality_repetition.gopher_repetition_filter``; filter on
``passes_repetition``) — both per-row maps that fuse into the same
projection stage, kept out of the default chain so the seven-stage
oracle pin stays byte-stable. The report counts rows
surviving each stage plus rows the stage changed or removed — the
numbers an operator watches on a 100 TB run (the `_metrics` counters
carry the same story per written file).

Scale shape: stages 2-4 are pure projections fused into one codegen
stage by Catalyst; stages 1, 5, 6, 7 are the operators' own audited
shuffle shapes (hash agg + min_by; two-shuffle line MapReduce; the
banded dedupe chain; broadcast bench join). The multi-consumer stage
outputs are registry-tracked persists (cache.py contract).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..cache import track
from ..config import DedupeConfig
from ..operators.decontamination import ngram_contamination
from ..operators.html_text import extract_text
from ..operators.pii import pii_scrub_expr
from ..operators.quality_rules import gopher_passes
from ..operators.text_analysis import remove_repeated_lines
from ..operators.urls import canonicalize_url
from .pipeline import run_pipeline

STAGES = (
    "input",
    "url_dedupe",
    "html_extract",
    "quality_gate",
    "pii_scrub",
    "boilerplate",
    "near_dedupe",
    "decontaminate",
)


def clean_corpus_stages(
    spark: SparkSession,
    pages: DataFrame,
    bench: DataFrame | None = None,
    cfg: DedupeConfig | None = None,
    boiler_min_docs: int = 10,
    sentence_sep: str = ". ",
    contam_n: int = 13,
    url_col: str = "url",
    html_col: str = "html",
) -> dict[str, DataFrame]:
    """Stage-name → output DataFrame for the seven-stage flow. Keys follow
    ``STAGES``; every value carries (canonical_url, text) plus stage
    extras. ``bench`` is the decontamination eval corpus (a ``text``
    column); None skips stage 7."""
    s0 = pages.select(F.col(url_col).alias("url"), F.col(html_col).alias("html"))

    canon = s0.select(
        canonicalize_url(F.col("url")).alias("canonical_url"), "html"
    )
    s1 = track(
        canon.groupBy("canonical_url").agg(
            F.min_by("html", F.md5("html")).alias("html")
        )
    )

    # s2/s3 are deliberately NOT persisted (r6 A/B, OPTIMIZATION_r06.md):
    # the extract_text regex chain does re-run once per consuming report
    # branch, but it fuses into each branch's codegen stage and the
    # persisted variant measured ~25% SLOWER end-to-end (persist
    # materialization of the html+text columns + broken fusion cost more
    # than the re-derivation saves; s1 above caps the recompute depth).
    s2 = s1.select(
        "canonical_url",
        "html",
        extract_text(F.col("html")).alias("text"),
    )

    s3 = s2.filter(gopher_passes("text")).select("canonical_url", "text")

    # _pii_hit is computed HERE (one codegen pass, persisted with the
    # stage) so the report's "rows the scrub changed" count needs neither
    # a join back to s3 nor a second extract_text evaluation (r6). The
    # scrub runs once: CollapseProject does not re-inline _scrubbed, which
    # the outer select references twice
    scrubbed = s3.select(
        "canonical_url", "text", pii_scrub_expr("text").alias("_scrubbed")
    )
    s4 = track(
        scrubbed.select(
            "canonical_url",
            F.col("_scrubbed").alias("text"),
            (F.col("_scrubbed") != F.col("text")).alias("_pii_hit"),
        )
    )

    cleaned = remove_repeated_lines(
        s4,
        min_docs=boiler_min_docs,
        id_col="canonical_url",
        sep=sentence_sep,
        emit_text=True,
    )
    s5 = track(
        cleaned.select(
            "canonical_url",
            F.col("clean_text").alias("text"),
            (F.col("n_removed") > 0).alias("_boiler_hit"),
        )
    )

    dedupe_in = s5.select(
        F.col("canonical_url").alias("doc_id"), "text"
    )
    resolved = run_pipeline(spark, dedupe_in, cfg, family="sql").resolved
    s6 = track(
        resolved.filter(F.col("is_kept"))
        .select(F.col("doc_id").alias("canonical_url"))
        .join(s5.select("canonical_url", "text"), "canonical_url")
    )

    out = {
        "input": s0,
        "url_dedupe": s1,
        "html_extract": s2,
        "quality_gate": s3,
        "pii_scrub": s4,
        "boilerplate": s5,
        "near_dedupe": s6,
    }
    if bench is not None:
        contam = ngram_contamination(
            s6, bench, n=contam_n, id_col="canonical_url"
        )
        out["decontaminate"] = s6.join(
            contam.filter(F.col("contaminated")).select("canonical_url"),
            "canonical_url",
            "left_anti",
        )
    return out


def clean_corpus(spark, pages, bench=None, **kw) -> DataFrame:
    """The final clean corpus (canonical_url, text) after every stage."""
    stages = clean_corpus_stages(spark, pages, bench, **kw)
    last = "decontaminate" if "decontaminate" in stages else "near_dedupe"
    return stages[last].select("canonical_url", "text")


def clean_corpus_report(spark, pages, bench=None, **kw) -> DataFrame:
    """(stage_ord, stage, n_docs, n_changed) — one row per stage.
    ``n_docs`` = rows surviving the stage; ``n_changed`` = rows the stage
    removed (filters) or rewrote (transformations). Built as a union of
    per-stage aggregations over the shared tracked intermediates — no
    driver-side counting."""
    st = clean_corpus_stages(spark, pages, bench, **kw)

    def row(ord_, name, n_df, changed_col=None):
        agg = [F.count("*").cast("long").alias("n_docs")]
        if changed_col is None:
            agg.append(F.lit(0).cast("long").alias("n_changed"))
        else:
            agg.append(
                F.sum(changed_col.cast("long")).cast("long").alias("n_changed")
            )
        return n_df.agg(*agg).select(
            F.lit(ord_).cast("long").alias("stage_ord"),
            F.lit(name).alias("stage"),
            "n_docs",
            "n_changed",
        )

    def drop_row(ord_, name, after_df, before_df):
        a = after_df.agg(F.count("*").cast("long").alias("n_docs"))
        b = before_df.agg(F.count("*").cast("long").alias("_n_before"))
        return a.crossJoin(b).select(
            F.lit(ord_).cast("long").alias("stage_ord"),
            F.lit(name).alias("stage"),
            "n_docs",
            (F.col("_n_before") - F.col("n_docs")).alias("n_changed"),
        )

    # Count sourcing (r6): stages that are 1:1 row-preserving selections of
    # each other share counts, so the count-only branches read the nearest
    # PERSISTED stage instead of re-deriving the extract_text chain —
    # |html_extract| = |url_dedupe| and |quality_gate| = |pii_scrub| by
    # construction, so the reported rows are identical while the report
    # evaluates extract_text once (the html_extract changed-text branch)
    # instead of four times. The pii row reads the _pii_hit flag persisted
    # with s4 — no join back to the quality-gate text.
    rows = [
        row(0, "input", st["input"]),
        drop_row(1, "url_dedupe", st["url_dedupe"], st["input"]),
        row(
            2,
            "html_extract",
            st["html_extract"],
            F.col("text") != F.col("html").cast("string"),
        ),
        drop_row(3, "quality_gate", st["pii_scrub"], st["url_dedupe"]),
        row(4, "pii_scrub", st["pii_scrub"], F.col("_pii_hit")),
        row(5, "boilerplate", st["boilerplate"], F.col("_boiler_hit")),
        drop_row(6, "near_dedupe", st["near_dedupe"], st["boilerplate"]),
    ]
    if "decontaminate" in st:
        rows.append(
            drop_row(7, "decontaminate", st["decontaminate"], st["near_dedupe"])
        )
    return reduce(DataFrame.unionByName, rows)
