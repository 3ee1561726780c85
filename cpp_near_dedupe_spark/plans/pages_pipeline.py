"""Record-linkage over the north-star `pages` input shape.

The target deployment input is an Iceberg table of Common-Crawl-style web
pages ``(url, warc_ts, html, text, lang)`` whose stable row identity is
``url`` (sources/pages.py). This plan runs the SQL-expressible dedupe
chain (``run_pipeline(family="sql")``) over that shape end-to-end through
the url identity path:

  pages → with_doc_id (doc_id = xxhash64(url), fixed-width join keys)
        → sketch → bands → capped pairs → Jaccard ≥ t edges
        → connected components over surrogates
        → join url back; cluster representative = lexicographic min url

The representative rule is deliberately *url-based*, not surrogate-based:
cluster MEMBERSHIP is independent of the surrogate representation (any
injective id mapping yields the same components), so choosing the
survivor by ``min(url)`` makes the final answer a pure function of the
page contents — reproducible across engines, hash-verifiable by a DuckDB
oracle that runs the same chain keyed directly on url strings, and stable
under re-crawls that permute row order.

Column pruning note (plan-audited): the pipeline touches only
``url``/``text``; Catalyst prunes ``html``/``warc_ts``/``lang`` out of
the scan, so carrying the full five-column page shape costs nothing —
the ReadSchema on the documents scan stays two columns.

``synthesize_pages`` derives a deterministic pages table from the
driver's ``documents`` fixture (no external data): url from the doc id,
monotone warc_ts, html = utf-8 bytes of text. The oracle rebuilds it with
the same expressions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import DedupeConfig
from ..sources.pages import with_doc_id
from .pipeline import run_pipeline


def synthesize_pages(docs: DataFrame) -> DataFrame:
    """documents (doc_id, text, ...) → deterministic pages
    (url, warc_ts, html, text, lang). Mirrored by the DuckDB oracle."""
    return docs.select(
        F.concat(
            F.lit("https://crawl.example/"),
            F.lpad(F.col("doc_id").cast("string"), 12, "0"),
            F.lit(".html"),
        ).alias("url"),
        # crawl time deliberately NOT aligned with url order (pseudo-
        # shuffle by a prime stride) so the first-seen keep rule is a
        # different answer than min-url and its oracle is non-vacuous
        F.timestamp_seconds(
            F.lit(1704067200) + (F.col("doc_id") * 7919) % 100000
        ).alias("warc_ts"),
        F.col("text").cast("binary").alias("html"),
        "text",
        F.lit("en").alias("lang"),
    )


def pages_record_linkage(
    spark: SparkSession,
    pages: DataFrame,
    cfg: DedupeConfig | None = None,
    keep: str = "min_url",
) -> DataFrame:
    """pages → (url, cluster_url, is_kept), one row per page.

    ``cluster_url`` is the cluster representative (itself for
    singletons); ``is_kept`` marks it — the keep-first rewrite keyed by
    url. ``keep`` selects the representative rule:

    * ``"min_url"`` — lexicographic-min url: a pure function of page
      contents, stable under re-crawls that permute row order;
    * ``"first_seen"`` — earliest ``warc_ts`` (url as tiebreak): the
      archival rule (keep the first crawl of a page), the pages-shape
      analogue of the reference's arrival-order keep-first
      (`/root/reference/CPPDeduper/DupeResolverThread.h:79-96`) and of
      ``DedupeConfig.order_col="warc_ts"`` on the parity pipeline.
      Implemented as one struct-min hash aggregation — min(struct(ts,
      url)) orders lexicographically by field — no window.
    """
    cfg = cfg or DedupeConfig()
    keyed = with_doc_id(pages, cfg)
    order_cols = ["doc_id", "url"] if keep == "min_url" else [
        "doc_id",
        "url",
        "warc_ts",
    ]
    ids = keyed.select(*order_cols)
    cc = run_pipeline(
        spark,
        keyed.select("doc_id", "text"),
        cfg,
        stop_after="clusters",
        family="sql",
    ).clusters
    passthru = [c for c in order_cols if c != "doc_id"]
    memb = (
        ids.join(cc.withColumnRenamed("id", "doc_id"), "doc_id", "left")
        .select(
            *passthru,
            F.coalesce("cluster_id", F.col("doc_id")).alias("_cid"),
        )
    )
    # survivor per component via one struct-min hash aggregation; the
    # groupBy is on the same _cid the join below shuffles on — one
    # exchange, reused. No window.
    if keep == "min_url":
        surv = memb.groupBy("_cid").agg(F.min("url").alias("cluster_url"))
    else:
        surv = memb.groupBy("_cid").agg(
            F.min(F.struct("warc_ts", "url"))["url"].alias("cluster_url")
        )
    return memb.join(surv, "_cid").select(
        "url",
        "cluster_url",
        (F.col("url") == F.col("cluster_url")).alias("is_kept"),
    )
