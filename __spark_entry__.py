"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship near-dedupe pipeline on sf0.001 documents.
``queries()`` — one entry per implemented operator (SURVEY.md §2 + the
training-data ops); each callable takes (spark, sf_dir) → DataFrame.
``oracle_sql()`` — DuckDB-runnable ANSI SQL for every SQL-expressible
query. The parity sketch chain (XXH64 over UTF-16 bytes of the exact
reference tokenizer) is not expressible in SQL — those entries are
deliberately absent so the driver records the weaker rows-only check;
their semantics are pinned instead by tests/ (golden vectors + pure-Python
oracle + brute-force F1 corpus). The ``lsh_sql_*`` queries close that gap:
the identical pipeline topology (shingle → bottom-N sketch → band split →
band-key self-join → distinct pairs → set-Jaccard → threshold → connected
components → keep-min resolve) over an md5 hash family that BOTH engines
implement, with full oracles including a recursive-CTE CC — so the shared
blocking/pairing/clustering/resolve operators are driver-hash-verified.

Column names and types are aligned pairwise (Spark ints cast to long where
DuckDB returns BIGINT; floats rounded identically on both sides).
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cpp_near_dedupe_spark.config import DedupeConfig
from cpp_near_dedupe_spark.operators.text_analysis import STOPWORDS

CFG = DedupeConfig(id_col="doc_id", text_col="text")

# regex word tokenizer shared by the SQL-checkable analytics ops
_SPLIT = "[^a-z0-9]+"


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full near-dedupe pipeline (sketch → LSH → Jaccard → CC →
    resolve) over sf0.001 documents; returns (doc_id, cluster_id, is_kept)."""
    from cpp_near_dedupe_spark.plans.pipeline import run_pipeline

    docs = _docs(spark, "/root/testdata/sf0.001")
    res = run_pipeline(spark, docs, CFG)
    return res.resolved


# ---------------------------------------------------------------------------
# queries
# ---------------------------------------------------------------------------

def _q_lsh_signatures(spark, sf_dir):
    from cpp_near_dedupe_spark.operators.sketch_op import sketch_documents

    sigs = sketch_documents(_docs(spark, sf_dir), CFG)
    # full signature as one scalar string (rows-only check — XXH64 over
    # UTF-16 is not SQL-expressible — but the value carries the whole
    # sketch, not just its first element)
    return sigs.select(
        "doc_id",
        F.col("sig_len").cast("long").alias("sig_len"),
        F.array_join(
            F.transform("signature", lambda x: x.cast("string")), ","
        ).alias("sig_concat"),
    )


def _q_lsh_bands(spark, sf_dir):
    from cpp_near_dedupe_spark.operators.sketch_op import sketch_documents
    from cpp_near_dedupe_spark.operators.blocking import explode_bands

    sigs = sketch_documents(_docs(spark, sf_dir), CFG)
    return explode_bands(sigs, CFG).select(
        "doc_id", F.col("band_id").cast("long").alias("band_id"), "band_key"
    )


def _q_lsh_candidate_pairs(spark, sf_dir):
    from cpp_near_dedupe_spark.operators.sketch_op import sketch_documents
    from cpp_near_dedupe_spark.operators.blocking import explode_bands
    from cpp_near_dedupe_spark.operators.pairs import candidate_pairs

    from cpp_near_dedupe_spark.cache import track

    sigs = sketch_documents(_docs(spark, sf_dir), CFG)
    # candidate_pairs consumes bands more than once (bucket sizes + the
    # salted window + the hot-link aggregates); persist like the pipeline
    bands = track(explode_bands(sigs, CFG))
    return candidate_pairs(bands, CFG)


def _q_lsh_dupe_edges(spark, sf_dir):
    from cpp_near_dedupe_spark.plans.pipeline import run_pipeline

    res = run_pipeline(spark, _docs(spark, sf_dir), CFG, stop_after="edges")
    return res.edges.select("a", "b", F.round("jaccard", 6).alias("jaccard"))


def _q_lsh_clusters(spark, sf_dir):
    from cpp_near_dedupe_spark.plans.pipeline import run_pipeline

    res = run_pipeline(spark, _docs(spark, sf_dir), CFG)
    return res.resolved


def _q_lsh_dedupe_kept(spark, sf_dir):
    from cpp_near_dedupe_spark.plans.pipeline import run_pipeline
    from cpp_near_dedupe_spark.operators.resolve import dedupe_output

    docs = _docs(spark, sf_dir)
    res = run_pipeline(spark, docs, CFG)
    return dedupe_output(docs, res.resolved, CFG).select("doc_id", "lang", "source")


def _q_exact_dedupe(spark, sf_dir):
    from cpp_near_dedupe_spark.operators.exact_dedupe import exact_dedupe

    return exact_dedupe(_docs(spark, sf_dir))


def _q_exact_dupe_groups(spark, sf_dir):
    """The generator's corpora have no byte-identical texts at small sf, so
    the plain query would be vacuously green on 0 rows. Union deterministic
    exact copies (every 10th doc, id offset +1e6; mirrored in the oracle)
    so the groupBy-md5 HAVING>1 path is verified on real groups."""
    from cpp_near_dedupe_spark.operators.exact_dedupe import exact_dupe_groups

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    copies = docs.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + F.lit(1_000_000)).alias("doc_id"), "text"
    )
    return exact_dupe_groups(docs.unionByName(copies))


def _q_doc_stats(spark, sf_dir):
    from cpp_near_dedupe_spark.operators.text_analysis import doc_stats

    out = doc_stats(_docs(spark, sf_dir))
    return out.select(
        "doc_id",
        F.col("n_chars_actual").cast("long").alias("n_chars_actual"),
        F.col("n_words").cast("long").alias("n_words"),
        F.col("n_distinct_words").cast("long").alias("n_distinct_words"),
        "avg_word_len",
    )


def _q_quality_score(spark, sf_dir):
    from cpp_near_dedupe_spark.operators.text_analysis import quality_score

    return quality_score(_docs(spark, sf_dir))


def _q_doc_fingerprint(spark, sf_dir):
    from cpp_near_dedupe_spark.operators.text_analysis import doc_fingerprint

    return doc_fingerprint(_docs(spark, sf_dir))


def _q_token_histogram(spark, sf_dir):
    from cpp_near_dedupe_spark.operators.text_analysis import token_histogram

    return token_histogram(_docs(spark, sf_dir), min_count=100)


def _q_language_id(spark, sf_dir):
    from cpp_near_dedupe_spark.operators.text_analysis import language_id

    return language_id(_docs(spark, sf_dir))


def _q_jaro_winkler_adjacent(spark, sf_dir):
    from cpp_near_dedupe_spark.operators.string_sim import jaro_winkler_adjacent

    return jaro_winkler_adjacent(_docs(spark, sf_dir), n_chars=64)


def _q_edit_distance_adjacent(spark, sf_dir):
    """Levenshtein distance + normalized similarity over adjacent doc
    prefixes (operators/string_sim.levenshtein_adjacent) — the third
    linkage string measure next to JW and n-gram Jaccard. Both engines
    run the classic DP built-in, so the oracle is a direct mirror."""
    from cpp_near_dedupe_spark.operators.string_sim import levenshtein_adjacent

    return levenshtein_adjacent(_docs(spark, sf_dir), n_chars=64)


def _q_tfidf_cosine_adjacent(spark, sf_dir):
    """TF-IDF cosine between adjacent docs (operators/tfidf.py): sparse
    lexical similarity with smoothed idf, all groupBy/join on the
    posting-list relation. Oracle replays tf/df/norm/dot in DuckDB over
    the same shared tokenizer."""
    from cpp_near_dedupe_spark.operators.tfidf import tfidf_cosine_adjacent

    return tfidf_cosine_adjacent(_docs(spark, sf_dir))


def _q_ngram_containment_adjacent(spark, sf_dir):
    """Asymmetric n-gram containment (Broder 1997) between adjacent docs
    (operators/ngram.py): catches B-embeds-A syndication duplication
    that symmetric Jaccard dilutes. Oracle mirrors the gram-set algebra."""
    from cpp_near_dedupe_spark.operators.ngram import ngram_containment_adjacent

    return ngram_containment_adjacent(_docs(spark, sf_dir))


def _q_token_sort_jw_adjacent(spark, sf_dir):
    """Jaro-Winkler over sorted-token keys (the fuzzy token_sort idea) —
    order-insensitive string match on the existing Arrow JW kernel."""
    from cpp_near_dedupe_spark.operators.string_sim import token_sort_jw_adjacent

    return token_sort_jw_adjacent(_docs(spark, sf_dir))


def _q_lm_fluency(spark, sf_dir):
    """Self-trained bigram-LM fluency score (operators/lm_score.py) —
    the CCNet perplexity-filter slot: mean Laplace-smoothed conditional
    log-prob per doc under the corpus's own bigram statistics. Oracle
    replays bigram/context counts and the smoothed mean in DuckDB."""
    from cpp_near_dedupe_spark.operators.lm_score import lm_fluency_score

    return lm_fluency_score(_docs(spark, sf_dir))


def _q_bpe_token_stats(spark, sf_dir):
    """BPE-ish pre-tokenizer counts (operators/text_analysis.py
    bpe_token_stats): letter-run / digit-run / other-run pieces per doc —
    the token-budget estimate a training-data pipeline computes before the
    model-specific merge step. Oracle mirrors the identical RE2/Java-safe
    regex and classification in DuckDB."""
    from cpp_near_dedupe_spark.operators.text_analysis import bpe_token_stats

    return bpe_token_stats(_docs(spark, sf_dir))


def _q_repeated_line_removal(spark, sf_dir):
    """Corpus-wide repeated-line removal (operators/text_analysis.py
    remove_repeated_lines — the C4/RefinedWeb boilerplate-line filter,
    r5). The generator's texts carry no newlines, so the fixture derives
    lines by sentence-splitting ('. ' → newline) and appends a shared
    boilerplate line to every 3rd doc (mirrored by the oracle's base
    CTE) — those lines occur in ≥2 distinct docs and must be removed
    from ALL of them, with surviving lines keeping original order."""
    from cpp_near_dedupe_spark.operators.text_analysis import remove_repeated_lines

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    lined = docs.select(
        "doc_id",
        F.concat(
            F.regexp_replace(F.col("text"), r"\. ", "\n"),
            F.when(
                F.col("doc_id") % 3 == 0,
                F.lit("\nsubscribe to our newsletter today"),
            ).otherwise(F.lit("")),
        ).alias("text"),
    )
    return remove_repeated_lines(lined, min_docs=2)


# --- entity resolution (record linkage) over the customer table (r5) ------
# Full blocking → JW scoring → transitive clustering → golden records
# chain (operators/entity_resolution.py). The driver's customer table is
# clean, so each query first derives the deterministic dirty-records
# fixture (typo'd copies for every 7th/13th customer) with expressions the
# DuckDB oracle mirrors exactly — see the module docstring.


def _er_records(spark, sf_dir):
    from cpp_near_dedupe_spark.cache import track
    from cpp_near_dedupe_spark.operators.entity_resolution import (
        dirty_customer_records,
    )

    # the records relation feeds every ER consumer (block keys ×2, pair
    # scoring ×2, cluster/golden joins) — uncached, Catalyst replicates
    # the union-of-three-scans subtree into every branch (~40 scans in
    # the er_matches plan). One session-registry persist = the relation
    # is materialized once, like the real records table it stands in for.
    return track(
        dirty_customer_records(
            spark.read.parquet(f"{sf_dir}/customer.parquet")
        )
    )


def _q_er_records(spark, sf_dir):
    return _er_records(spark, sf_dir).drop("entity_id")


def _q_er_candidate_pairs(spark, sf_dir):
    from cpp_near_dedupe_spark.operators.entity_resolution import (
        er_candidate_pairs,
    )

    return er_candidate_pairs(_er_records(spark, sf_dir))


def _q_er_matches(spark, sf_dir):
    from cpp_near_dedupe_spark.operators.entity_resolution import er_matches

    return er_matches(_er_records(spark, sf_dir))


def _q_er_clusters(spark, sf_dir):
    from cpp_near_dedupe_spark.operators.entity_resolution import er_clusters

    return er_clusters(_er_records(spark, sf_dir))


def _q_er_golden_records(spark, sf_dir):
    from cpp_near_dedupe_spark.operators.entity_resolution import (
        er_golden_records,
    )

    return er_golden_records(_er_records(spark, sf_dir))


def _q_er_sn_pairs(spark, sf_dir):
    """Sorted-neighborhood blocking over the dirty-records name order
    (operators/sorted_neighborhood.py): the classic Hernández-Stolfo
    complement to equi-key blocking, built on the distributed two-phase
    rank (no single-task global window). Oracle = row_number self-join
    at rank distance < w."""
    from cpp_near_dedupe_spark.operators.entity_resolution import er_sn_pairs

    return er_sn_pairs(_er_records(spark, sf_dir))


def _q_er_sn_matches(spark, sf_dir):
    from cpp_near_dedupe_spark.operators.entity_resolution import er_sn_matches

    return er_sn_matches(_er_records(spark, sf_dir))


def _q_er_matches_combined(spark, sf_dir):
    """Match set under key ∪ sorted-neighborhood blocking (distinct
    before scoring) — recall stacks like multi-band LSH bands."""
    from cpp_near_dedupe_spark.operators.entity_resolution import (
        er_matches_combined,
    )

    return er_matches_combined(_er_records(spark, sf_dir))


def _q_er_blocking_report(spark, sf_dir):
    """Blocking-quality report (operators/entity_resolution.py): pairs
    completeness + reduction ratio per strategy (key vs sorted-
    neighborhood) against the fixture's labeled entity pairs — the two
    standard blocking metrics, as 1-row aggregates with no collect."""
    from cpp_near_dedupe_spark.operators.entity_resolution import (
        er_blocking_report,
    )

    return er_blocking_report(_er_records(spark, sf_dir))


def _q_pages_dedupe(spark, sf_dir):
    """North-star input shape end-to-end (plans/pages_pipeline.py, r5):
    documents → deterministic pages (url, warc_ts, html, text, lang) →
    url-keyed record linkage through the full SQL-mode chain (xxhash64
    surrogate ids internally, lexicographic-min-url representative) →
    (url, cluster_url, is_kept). The oracle replays the chain keyed
    directly on url strings: cluster membership is surrogate-independent,
    so the two keyings must produce identical answers."""
    from cpp_near_dedupe_spark.plans.pages_pipeline import (
        pages_record_linkage,
        synthesize_pages,
    )

    pages = synthesize_pages(_docs(spark, sf_dir))
    return pages_record_linkage(spark, pages)


def _q_pages_dedupe_first_seen(spark, sf_dir):
    """Archival keep rule: earliest warc_ts (url tiebreak) is the cluster
    representative — the pages-shape analogue of order_col keep-first.
    The fixture's warc_ts is deliberately not aligned with url order, so
    this provably differs from pages_dedupe's min-url answer."""
    from cpp_near_dedupe_spark.plans.pages_pipeline import (
        pages_record_linkage,
        synthesize_pages,
    )

    pages = synthesize_pages(_docs(spark, sf_dir))
    return pages_record_linkage(spark, pages, keep="first_seen")


# --- URL canonicalization / crawl-identity dedup (r5) ---------------------
# Messy-URL fixture: every doc contributes a clean url plus one messy
# variant (case-folded host, tracking params, unsorted params + fragment,
# or explicit default port, by doc_id % 4). Hosts shard across 5
# subdomains so domain stats aggregate something real. Mirrored
# expression-for-expression by the oracles.


def _messy_urls(spark, sf_dir):
    docs = _docs(spark, sf_dir).select("doc_id")
    p = F.col("doc_id").cast("string")
    shard = (F.col("doc_id") % 5).cast("string")
    clean = F.concat(
        F.lit("https://s"), shard, F.lit(".example.com/a/"), p
    )
    messy = (
        F.when(
            F.col("doc_id") % 4 == 0,
            F.concat(
                F.lit("https://S"),
                shard,
                F.lit(".Example.COM/a/"),
                p,
                F.lit("/"),
            ),
        )
        .when(
            F.col("doc_id") % 4 == 1,
            F.concat(clean, F.lit("?utm_source=feed&ref=rss")),
        )
        .when(
            F.col("doc_id") % 4 == 2,
            F.concat(clean, F.lit("?b=2&a=1&utm_campaign=x#frag")),
        )
        .otherwise(
            F.concat(
                F.lit("HTTPS://s"),
                shard,
                F.lit(".example.com:443/a/"),
                p,
            )
        )
    )
    return docs.select(clean.alias("url")).unionByName(
        docs.select(messy.alias("url"))
    )


def _q_url_canonicalize(spark, sf_dir):
    from cpp_near_dedupe_spark.operators.urls import url_canonicalize

    return url_canonicalize(_messy_urls(spark, sf_dir))


def _q_url_dedupe_kept(spark, sf_dir):
    from cpp_near_dedupe_spark.operators.urls import url_dedupe

    return url_dedupe(_messy_urls(spark, sf_dir))


def _q_url_domain_stats(spark, sf_dir):
    from cpp_near_dedupe_spark.operators.urls import domain_stats

    return domain_stats(_messy_urls(spark, sf_dir))


# --- html extraction / PII / sampling / crawl delta (r5) ------------------
# Each fixture is derived from `documents` with expressions that exist
# identically in Spark SQL and DuckDB, so the oracles rebuild the exact
# corpus. Adorned-pages html exercises every extraction rule (script,
# style, comment, tags, all six entities, whitespace runs); the PII
# fixture injects one detectable of each class on coprime strides; the
# sampling fixture gives one hot domain (~55% of urls) + nine cold ones;
# the crawl snapshots mix removed/changed/added pages with a
# tracking-param url variant that canonicalization must equate.


def _page_url():
    return F.concat(
        F.lit("https://crawl.example/"),
        F.lpad(F.col("doc_id").cast("string"), 12, "0"),
        F.lit(".html"),
    )

_PAGE_URL_SQL = (
    "concat('https://crawl.example/', "
    "lpad(cast(doc_id AS VARCHAR), 12, '0'), '.html')"
)

# oracle mirrors kept next to their implementations (single source for
# the rule lists); imported here so the f-string oracles below stay flat
from cpp_near_dedupe_spark.operators.html_text import (  # noqa: E402
    extract_text_sql as _extract_text_sql,
)
from cpp_near_dedupe_spark.operators.pii import (  # noqa: E402
    pii_scrub_sql as _pii_scrub_sql,
)
from cpp_near_dedupe_spark.operators.sampling import (  # noqa: E402
    h60_sql as _h60_sql,
)

_HTML_EXTRACT_SQL = _extract_text_sql("html")
_PII_SCRUB_SQL = _pii_scrub_sql("doc_id", "text")


def _adorned_pages(spark, sf_dir):
    html = F.concat(
        F.lit(
            '<html><head><script>var x = "</div>";</script>'
            "<style>p{color:red}</style></head><body><!-- generated --><p>"
        ),
        F.coalesce(F.col("text"), F.lit("")),
        F.lit("</p><br>&amp;copy; &lt;end&gt;&nbsp;&#39;fin&#39;</body></html>"),
    ).cast("binary")
    return _docs(spark, sf_dir).select(
        _page_url().alias("url"), html.alias("html")
    )


def _q_html_extract_text(spark, sf_dir):
    from cpp_near_dedupe_spark.operators.html_text import html_extract_text

    return html_extract_text(_adorned_pages(spark, sf_dir))


def _pii_docs(spark, sf_dir):
    did = F.col("doc_id")
    text = F.concat(
        F.coalesce(F.col("text"), F.lit("")),
        F.when(
            did % 5 == 0,
            F.concat(
                F.lit(" contact u"), did.cast("string"), F.lit("@example.com")
            ),
        ).otherwise(F.lit("")),
        F.when(
            did % 7 == 0,
            F.concat(
                F.lit(" from 10.0."), (did % 256).cast("string"), F.lit(".1")
            ),
        ).otherwise(F.lit("")),
        F.when(did % 11 == 0, F.lit(" call 555-867-5309")).otherwise(F.lit("")),
    )
    return _docs(spark, sf_dir).select("doc_id", text.alias("text"))


def _q_pii_scrub(spark, sf_dir):
    from cpp_near_dedupe_spark.operators.pii import pii_scrub

    return pii_scrub(_pii_docs(spark, sf_dir))


def _skewed_urls(spark, sf_dir):
    did = F.col("doc_id")
    host = F.concat(
        F.lit("d"),
        F.when(did % 2 == 0, F.lit("0")).otherwise((did % 10).cast("string")),
        F.lit(".example.com"),
    )
    return _docs(spark, sf_dir).select(
        F.concat(
            F.lit("https://"), host, F.lit("/p/"), did.cast("string")
        ).alias("url")
    )


def _q_domain_cap_sample(spark, sf_dir):
    from cpp_near_dedupe_spark.operators.sampling import domain_cap_sample

    return domain_cap_sample(_skewed_urls(spark, sf_dir), cap=60)


def _q_hash_split(spark, sf_dir):
    from cpp_near_dedupe_spark.operators.sampling import hash_split

    return hash_split(_skewed_urls(spark, sf_dir))


def _crawl_snapshots(spark, sf_dir):
    did = F.col("doc_id")
    docs = _docs(spark, sf_dir).select(
        "doc_id",
        F.coalesce(F.col("text"), F.lit("")).alias("text"),
        _page_url().alias("url"),
    )
    old = docs.select("url", "text")
    base_new = docs.filter(~(did % 7 == 3)).select(
        F.when(
            did % 5 == 1, F.concat(F.col("url"), F.lit("?utm_source=x#frag"))
        )
        .otherwise(F.col("url"))
        .alias("url"),
        F.when(did % 3 == 0, F.concat(F.col("text"), F.lit(" updated")))
        .otherwise(F.col("text"))
        .alias("text"),
    )
    added = docs.filter(did % 11 == 0).select(
        F.concat(F.col("url"), F.lit("-new")).alias("url"),
        F.concat(F.lit("fresh "), did.cast("string")).alias("text"),
    )
    return old, base_new.unionByName(added)


def _q_crawl_delta(spark, sf_dir):
    from cpp_near_dedupe_spark.operators.crawl_delta import crawl_delta

    old, new = _crawl_snapshots(spark, sf_dir)
    return crawl_delta(old, new)


def _gopher_docs(spark, sf_dir):
    """documents adorned so every Gopher rule is non-vacuous: bullets
    (every 6th), trailing hashes (every 8th), ellipsis lines (every 9th);
    the natural 30-250-token length spread exercises the word-count gate.
    Mirrored expression-for-expression by the oracle CTE."""
    did = F.col("doc_id")
    text = F.concat(
        F.when(did % 6 == 0, F.lit("- item one\n- item two\n")).otherwise(
            F.lit("")
        ),
        F.coalesce(F.col("text"), F.lit("")),
        F.when(did % 8 == 0, F.lit(" ####")).otherwise(F.lit("")),
        F.when(
            did % 9 == 0, F.lit("\nto be continued...\nmore soon...")
        ).otherwise(F.lit("")),
    )
    return _docs(spark, sf_dir).select("doc_id", text.alias("text"))


def _q_gopher_quality(spark, sf_dir):
    from cpp_near_dedupe_spark.operators.quality_rules import (
        gopher_quality_filter,
    )

    return gopher_quality_filter(_gopher_docs(spark, sf_dir))


def _repetition_docs(spark, sf_dir):
    """documents adorned so every Gopher §A1.2 repetition rule is
    non-vacuous: every 5th doc gains three identical lines (dup-line
    rules), every 7th a 12×-repeated phrase (top-/dup-n-gram rules), every
    11th a duplicated paragraph. Mirrored expression-for-expression by the
    oracle's inline source subquery."""
    did = F.col("doc_id")
    text = F.concat(
        F.coalesce(F.col("text"), F.lit("")),
        F.when(
            did % 5 == 0, F.lit("\nrepeated line\nrepeated line\nrepeated line")
        ).otherwise(F.lit("")),
        F.when(did % 7 == 0, F.lit("\n" + "lorem ipsum dolor sit amet " * 12)).otherwise(
            F.lit("")
        ),
        F.when(did % 11 == 0, F.lit("\n\nsame para\n\nsame para")).otherwise(
            F.lit("")
        ),
    )
    return _docs(spark, sf_dir).select("doc_id", text.alias("text"))


def _q_gopher_repetition(spark, sf_dir):
    from cpp_near_dedupe_spark.operators.quality_repetition import (
        gopher_repetition_filter,
    )

    return gopher_repetition_filter(_repetition_docs(spark, sf_dir))


def _c4_docs(spark, sf_dir):
    """documents adorned so every C4 rule is non-vacuous: a surviving
    sentence line on every doc, a too-short line (every 4th), a javascript
    line (every 6th), lorem ipsum (every 13th), a brace line (every 17th).
    Mirrored expression-for-expression by the oracle CTE."""
    did = F.col("doc_id")
    text = F.concat(
        F.coalesce(F.col("text"), F.lit("")),
        F.lit("\nThis line survives the filter.\nAnd so does this one!"
              "\nA third keeps the page alive."),
        F.when(did % 4 == 0, F.lit("\nshort line")).otherwise(F.lit("")),
        F.when(
            did % 6 == 0, F.lit("\nEnable JavaScript to view this page.")
        ).otherwise(F.lit("")),
        F.when(did % 13 == 0, F.lit("\nLorem Ipsum dolor sit amet.")).otherwise(
            F.lit("")
        ),
        F.when(did % 17 == 0, F.lit("\nfunction() { return 1; }")).otherwise(
            F.lit("")
        ),
    )
    return _docs(spark, sf_dir).select("doc_id", text.alias("text"))


def _q_c4_clean(spark, sf_dir):
    from cpp_near_dedupe_spark.operators.c4_filters import c4_clean

    return c4_clean(_c4_docs(spark, sf_dir))


def _q_semantic_dedupe(spark, sf_dir):
    """SemDeDup composition over the augmented embedding corpus: the
    hash-verified exact pair set (embedding_dupe_pairs) → shared CC →
    min-id keep. The driver query runs method='exact' so the DuckDB
    oracle (pairs + recursive-CTE components) is exact; the 100 TB path
    is the same composition with method='lsh' (pair recall pinned by
    tests/test_ann_recall.py)."""
    from cpp_near_dedupe_spark.operators.embedding_ann import semantic_dedupe

    return semantic_dedupe(
        _aug_emb(spark, sf_dir), threshold=0.95, vec_col="v", method="exact"
    )


def _q_ngram_contamination(spark, sf_dir):
    """Benchmark decontamination (operators/decontamination.py): every
    17th document plays the benchmark corpus, n=13 word-gram collision
    (the GPT-3/PaLM constant). Non-vacuous both ways: bench members hit
    on all their own grams, the corpus's constructed near-copies hit on
    shared runs, clean docs don't."""
    from cpp_near_dedupe_spark.operators.decontamination import (
        ngram_contamination,
    )

    docs = _docs(spark, sf_dir)
    bench = docs.filter(F.col("doc_id") % 17 == 0).select("text")
    return ngram_contamination(docs, bench, n=13)


def _web_pages(spark, sf_dir):
    """Deterministic crawl fixture for the composed pipeline (mirrored
    expression-for-expression by the wp_* oracle CTEs): urls collide mod
    450 (crawl-identity dupes) and carry tracking params for every 5th+1
    doc; html wraps the text in markup with a script block; text is
    adorned with an email (every 5th — pii stage) and a shared newsletter
    sentence (every 3rd — boilerplate stage)."""
    did = F.col("doc_id")
    adorned = F.concat(
        F.coalesce(F.col("text"), F.lit("")),
        F.when(
            did % 5 == 0,
            F.concat(
                F.lit(" contact u"),
                did.cast("string"),
                F.lit("@example.com"),
            ),
        ).otherwise(F.lit("")),
        F.when(
            did % 3 == 0, F.lit(". subscribe to our newsletter today")
        ).otherwise(F.lit("")),
    )
    url = F.concat(
        F.lit("https://d"),
        ((did % 450) % 10).cast("string"),
        F.lit(".example.com/p/"),
        (did % 450).cast("string"),
        F.when(did % 5 == 1, F.lit("?utm_source=x#frag")).otherwise(
            F.lit("")
        ),
    )
    html = F.concat(
        F.lit("<html><head><script>var x = 1;</script></head><body><p>"),
        adorned,
        F.lit("</p></body></html>"),
    ).cast("binary")
    return _docs(spark, sf_dir).select(url.alias("url"), html.alias("html"))


def _q_web_clean_report(spark, sf_dir):
    """The crawl-to-clean-corpus composition (plans/web_pipeline.py):
    url dedupe → extract → quality → pii → boilerplate → near-dedupe →
    decontaminate, reported as per-stage surviving/changed counts. Every
    stage is an individually hash-green operator; this query hash-checks
    the COMPOSITION against a single DuckDB statement replaying all
    seven stages."""
    from cpp_near_dedupe_spark.plans.web_pipeline import clean_corpus_report

    pages = _web_pages(spark, sf_dir)
    bench = _docs(spark, sf_dir).filter(F.col("doc_id") % 17 == 0).select(
        "text"
    )
    return clean_corpus_report(spark, pages, bench)


def _q_duplicate_spans(spark, sf_dir):
    """Exact-substring duplicate detection (operators/dup_spans.py):
    30-token windows (the corpus's 30-250-token docs make 50 vacuous at
    this scale; production default is 50 per Lee et al.), hash ≥2
    occurrences corpus-wide = duplicated, per-doc union-of-intervals
    coverage. The corpus's constructed exact/near copies give non-zero
    dup_frac rows; clean docs report 0."""
    from cpp_near_dedupe_spark.operators.dup_spans import duplicate_spans

    return duplicate_spans(_docs(spark, sf_dir), span_tokens=30)


def _q_dedupe_report(spark, sf_dir):
    """Cluster-shape telemetry (operators/resolve.py dedupe_report) over
    the SQL-mode resolved relation — the queryable face of the
    reference's end-of-run stats dump (O3)."""
    from cpp_near_dedupe_spark.operators.resolve import dedupe_report

    return dedupe_report(_q_lsh_sql_clusters(spark, sf_dir))


def _q_semantic_dedupe_lsh(spark, sf_dir):
    """The 100 TB path of the SemDeDup composition: LSH-bucketed pair
    generation (windowless hot-bucket caps) → shared CC → min-id keep.
    Approximate candidate generation → rows-only; its exact twin
    (semantic_dedupe) is the hash-verified query, and
    tests/test_quality_semdedup.py pins exact/LSH cluster agreement on
    separated clusters."""
    from cpp_near_dedupe_spark.operators.embedding_ann import semantic_dedupe

    return semantic_dedupe(
        _aug_emb(spark, sf_dir), threshold=0.95, vec_col="v", method="lsh"
    )


def _q_ngram_jaccard_adjacent(spark, sf_dir):
    from cpp_near_dedupe_spark.operators.ngram import ngram_jaccard_adjacent

    return ngram_jaccard_adjacent(_docs(spark, sf_dir), n=5)


def _q_simhash(spark, sf_dir):
    from cpp_near_dedupe_spark.operators.simhash import simhash_documents

    return simhash_documents(_docs(spark, sf_dir))


def _q_simhash_dupe_pairs(spark, sf_dir):
    from cpp_near_dedupe_spark.operators.simhash import simhash_candidate_pairs

    out = simhash_candidate_pairs(_docs(spark, sf_dir), max_hamming=3)
    return out.select("a", "b", F.col("hamming").cast("long").alias("hamming"))


def _q_simhash_sql(spark, sf_dir):
    from cpp_near_dedupe_spark.operators.simhash import simhash_sql_fingerprint

    return simhash_sql_fingerprint(_docs(spark, sf_dir))


def _q_simhash_sql_pairs(spark, sf_dir):
    from cpp_near_dedupe_spark.operators.simhash import simhash_sql_pairs

    out = simhash_sql_pairs(_dense_docs(spark, sf_dir), max_hamming=3)
    return out.select("a", "b", F.col("hamming").cast("long").alias("hamming"))


def _q_ann_topk(spark, sf_dir):
    from cpp_near_dedupe_spark.operators.embedding_ann import brute_force_topk

    out = brute_force_topk(_emb(spark, sf_dir), query_ids=range(20), k=5)
    return out.select(
        "query_id", "neighbor_id", "cosine", F.col("rank").cast("long").alias("rank")
    )


def _q_ann_lsh_topk(spark, sf_dir):
    from cpp_near_dedupe_spark.operators.embedding_ann import lsh_topk

    out = lsh_topk(_emb(spark, sf_dir), query_ids=range(20), k=5)
    return out.select(
        "query_id", "neighbor_id", "cosine", F.col("rank").cast("long").alias("rank")
    )


def _q_ann_ivf_topk(spark, sf_dir):
    """Inverted-file ANN (operators/embedding_ann.py ivf_topk): sampled
    spherical-k-means codebook → nearest-list assignment → nprobe probe →
    exact rescore. Driver-side k-means is not SQL-expressible → rows-only;
    recall vs the exact oracle is measured in tests/test_ann_recall.py
    (clustered corpus: higher recall per candidate scored than LSH; the
    driver's near-uniform table has no locality for ANY index — the same
    honest negative documented for ann_lsh_topk in BENCH/BASELINE.md)."""
    from cpp_near_dedupe_spark.operators.embedding_ann import ivf_topk

    out = ivf_topk(_emb(spark, sf_dir), query_ids=range(20), k=5, n_centroids=16, nprobe=4)
    return out.select(
        "query_id", "neighbor_id", "cosine", F.col("rank").cast("long").alias("rank")
    )


def _aug_emb(spark, sf_dir):
    """embeddings ∪ a deterministic near-copy of every 5th vector (ids +
    10⁶; mirrored by the oracle's aug CTE): element i becomes
    v[i] + 0.05·v[(i+1) mod d] — a fixed linear perturbation both engines
    compute identically in double, giving cosine ≈ 0.996 against the
    original. The driver's embeddings table is near-uniform on the sphere
    (no natural near-dups: top-neighbor cosine ≈ −0.3), so without this the
    dupe-pair queries would be vacuously green on an empty result."""
    base = _emb(spark, sf_dir).select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    )
    shifted = F.transform(
        F.sequence(F.lit(0), F.size("v") - F.lit(1)),
        lambda i: F.element_at("v", i + F.lit(1))
        + F.lit(0.05) * F.element_at("v", F.pmod(i + F.lit(1), F.size("v")) + F.lit(1)),
    )
    copies = base.filter(F.col("vec_id") % 5 == 0).select(
        (F.col("vec_id") + F.lit(1_000_000)).alias("vec_id"), shifted.alias("v")
    )
    # deliberately NOT persisted (r6 interleaved A/B): the relation feeds
    # 3-4 plan branches, but the scan + perturbation transform are cheap
    # codegen and re-deriving them measured within noise of persisting —
    # the unpersisted plan keeps each branch fused
    return base.unionByName(copies)


def _q_embedding_dupe_pairs(spark, sf_dir):
    """Embedding-cosine near-duplicate pairs, exact (operators/
    embedding_ann.py cosine_dupe_pairs): all (a < b, cosine ≥ 0.95) over
    the augmented corpus — ~n/5 constructed near-copy pairs. Guarded O(n²)
    oracle/baseline; the scale path is the LSH-bucketed twin below."""
    from cpp_near_dedupe_spark.operators.embedding_ann import cosine_dupe_pairs

    return cosine_dupe_pairs(_aug_emb(spark, sf_dir), threshold=0.95, vec_col="v")


def _q_embedding_dupe_pairs_lsh(spark, sf_dir):
    """Scale path for embedding-cosine near-dup (cosine_dupe_pairs_lsh):
    multi-table hyperplane-bucket equi-join (no cross join), distinct
    before exact rescoring, threshold on the exact cosine. Approximate
    candidate generation → rows-only; pair recall vs the exact operator is
    asserted ≥ 0.9 in tests/test_ann_recall.py on the clustered corpus."""
    from cpp_near_dedupe_spark.operators.embedding_ann import cosine_dupe_pairs_lsh

    return cosine_dupe_pairs_lsh(_aug_emb(spark, sf_dir), threshold=0.95, vec_col="v")


def _q_binary_features(spark, sf_dir):
    from cpp_near_dedupe_spark.operators.multimodal import binary_features, with_binary_payload

    df = with_binary_payload(_docs(spark, sf_dir))
    return binary_features(df).select("doc_id", "n_bytes", "md5_hex")


def _q_binary_decode_stub(spark, sf_dir):
    from cpp_near_dedupe_spark.operators.multimodal import binary_features, with_binary_payload

    df = with_binary_payload(_docs(spark, sf_dir))
    return binary_features(df).select(
        "doc_id",
        F.col("fake_width").cast("long").alias("fake_width"),
        F.col("fake_height").cast("long").alias("fake_height"),
    )


def _q_frame_offsets(spark, sf_dir):
    """Multimodal frame-sampling plan (operators/multimodal.py): evenly-
    spaced whole-frame offsets over the binary payload — pure JVM
    arithmetic with a full DuckDB oracle (byte extraction itself is pinned
    by tests; DuckDB cannot slice blobs)."""
    from cpp_near_dedupe_spark.operators.multimodal import (
        frame_offsets,
        with_binary_payload,
    )

    df = with_binary_payload(_docs(spark, sf_dir))
    return frame_offsets(df, frame_bytes=256, n_frames=8)


def _q_incremental_dedupe(spark, sf_dir):
    """Incremental mode (reference's compare-incoming-vs-retained semantics,
    streaming/incremental.py): first half of the table seeds the retained
    state, second half is deduped against it. Non-SQL-expressible
    (stateful) -> rows-only check.

    The state lives in a deterministic scratch dir keyed by sf_dir (cleared
    per run) and the LAZY kept DataFrame is returned — no toPandas round
    trip through the driver; at scale the kept set is the whole corpus."""
    import hashlib
    import shutil

    from cpp_near_dedupe_spark.streaming.incremental import (
        SignatureState,
        dedupe_increment,
    )

    state_dir = "/tmp/spark_graft_incr_state_" + f"{os.getpid()}_" + hashlib.md5(
        sf_dir.encode()
    ).hexdigest()[:10]
    shutil.rmtree(state_dir, ignore_errors=True)

    docs = _docs(spark, sf_dir)
    # split point from parquet footer metadata — O(1) driver read, no job
    import pyarrow.parquet as pq

    n = pq.ParquetFile(f"{sf_dir}/documents.parquet").metadata.num_rows
    first = docs.filter(F.col("doc_id") < n // 2)
    second = docs.filter(F.col("doc_id") >= n // 2)
    state = SignatureState(spark, state_dir)
    dedupe_increment(spark, first, state, CFG)
    kept2 = dedupe_increment(spark, second, state, CFG)
    return kept2.select("doc_id")


def _q_incremental_sql_dedupe(spark, sf_dir):
    """Incremental dedupe, driver-HASH-verified (r5, VERDICT r4 #4): the
    same batch-sequential machinery as ``incremental_dedupe`` —
    streaming/incremental.py dedupe_increment, same SignatureState store,
    same candidate join and batch ordering — run under the SQL-expressible
    md5 hash family (family="sql"), so a DuckDB oracle can replay the
    exact semantics: batch 1 (doc_id < n/2) is deduped within itself
    (CC keep-min) and its survivors seed the state; batch 2 is deduped
    within itself, then its survivors are dropped iff they share a band
    with a retained state doc and score jaccard ≥ threshold. Returns the
    second batch's kept ids. The sql family forces the all_pairs topology
    (the oracle's cand CTEs define the candidate set as all band-colliding
    pairs; plans/pipeline.py FAMILIES)."""
    import hashlib
    import shutil

    from cpp_near_dedupe_spark.streaming.incremental import (
        SignatureState,
        dedupe_increment,
    )

    state_dir = "/tmp/spark_graft_incr_sql_state_" + f"{os.getpid()}_" + hashlib.md5(
        sf_dir.encode()
    ).hexdigest()[:10]
    shutil.rmtree(state_dir, ignore_errors=True)

    docs = _docs(spark, sf_dir)
    import pyarrow.parquet as pq

    n = pq.ParquetFile(f"{sf_dir}/documents.parquet").metadata.num_rows
    first = docs.filter(F.col("doc_id") < n // 2)
    second = docs.filter(F.col("doc_id") >= n // 2)
    state = SignatureState(spark, state_dir)
    dedupe_increment(spark, first, state, CFG, family="sql")
    kept2 = dedupe_increment(spark, second, state, CFG, family="sql")
    return kept2.select("doc_id")


def _q_incremental_sql_strict(spark, sf_dir):
    """Strict-order incremental mode, driver-HASH-verified (r5): the
    reference's exact per-doc pass at batch granularity
    (streaming/incremental.py _dedupe_increment_strict) under the md5
    family — batch 2 docs matching RETAINED state are dropped FIRST
    (they can never be retained, so they also cannot drop anyone), then
    arrival-order greedy runs over the within-batch edges of the
    remainder. Runs over the chained corpus (_chain_docs) so greedy
    provably diverges from CC within the batch AND copies of batch-1
    survivors are provably state-dropped — a green hash pins the strict
    ordering semantics specifically. The oracle replays both greedy
    passes with the round-capped single-row list-state recursive CTE the
    lsh_sql_greedy_kept oracle introduced."""
    import hashlib
    import shutil

    from cpp_near_dedupe_spark.streaming.incremental import (
        SignatureState,
        dedupe_increment,
    )

    state_dir = "/tmp/spark_graft_incr_sqlstrict_state_" + f"{os.getpid()}_" + hashlib.md5(
        sf_dir.encode()
    ).hexdigest()[:10]
    shutil.rmtree(state_dir, ignore_errors=True)

    docs = _chain_docs(spark, sf_dir)
    import pyarrow.parquet as pq

    # split at half the BASE table count (the chain copies' offset ids all
    # land in batch 2) — mirrored by the oracle's half CTE over documents
    n = pq.ParquetFile(f"{sf_dir}/documents.parquet").metadata.num_rows
    first = docs.filter(F.col("doc_id") < n // 2)
    second = docs.filter(F.col("doc_id") >= n // 2)
    state = SignatureState(spark, state_dir)
    dedupe_increment(spark, first, state, CFG, strict_order=True, family="sql")
    kept2 = dedupe_increment(spark, second, state, CFG, strict_order=True, family="sql")
    return kept2.select("doc_id")


def _q_sqlmode(stop_after, project):
    """Factory for the SQL-expressible LSH chain queries (plans/sql_mode.py):
    the parity chain's stage DAG under the md5 hash family, full DuckDB
    oracle."""

    def q(spark, sf_dir):
        from cpp_near_dedupe_spark.plans.pipeline import run_pipeline

        res = run_pipeline(
            spark, _docs(spark, sf_dir), CFG, stop_after=stop_after, family="sql"
        )
        return project(res)

    return q


_q_lsh_sql_signatures = _q_sqlmode(
    "signatures",
    lambda res: res.signatures.select(
        "doc_id",
        F.col("sig_len").cast("long").alias("sig_len"),
        F.array_join("signature", ",").alias("sig_concat"),
    ),
)

_q_lsh_sql_bands = _q_sqlmode(
    "bands",
    lambda res: res.bands.select(
        "doc_id", F.col("band_id").cast("long").alias("band_id"), "band_key"
    ),
)

_q_lsh_sql_candidate_pairs = _q_sqlmode("pairs", lambda res: res.pairs.select("a", "b"))

_q_lsh_sql_dupe_edges = _q_sqlmode(
    "edges", lambda res: res.edges.select("a", "b", "jaccard")
)

_q_lsh_sql_clusters = _q_sqlmode(
    None, lambda res: res.resolved.select("doc_id", "cluster_id", "is_kept")
)


def _q_lsh_sql_dedupe_kept(spark, sf_dir):
    from cpp_near_dedupe_spark.plans.pipeline import run_pipeline
    from cpp_near_dedupe_spark.operators.resolve import dedupe_output

    docs = _docs(spark, sf_dir)
    res = run_pipeline(spark, docs, CFG, family="sql")
    return dedupe_output(docs, res.resolved, CFG).select("doc_id", "lang", "source")


def _dense_docs(spark, sf_dir):
    """documents ∪ five exact copies of every 50th doc (ids offset by
    k·10⁶): six-member dupe families whose identical sketches collide in
    every band, so all_pairs / chain_star / capped+star provably produce
    DIFFERENT pair sets — mirrored by the oracle's documents_dense CTE."""
    docs = _docs(spark, sf_dir).select("doc_id", "text")
    copies = (
        docs.filter(F.col("doc_id") % 50 == 0)
        .select(
            F.explode(F.sequence(F.lit(1), F.lit(5))).alias("k"), "doc_id", "text"
        )
        .select((F.col("doc_id") + F.col("k") * 1_000_000).alias("doc_id"), "text")
    )
    return docs.unionByName(copies)


def _q_pairs_topology(topology, cap=None):
    """Factory for the pair-topology queries over the dense corpus: sketch
    and bands via the SQL-expressible mode, pairs via the SHARED
    operators/pairs.py implementation under the given topology/cap. Each
    variant's DuckDB oracle mirrors exactly its window/join math, so the
    hash match is structural (not a fixture-density accident):

    * lsh_sql_pairs_dense  — all_pairs, default cap; oracle = capped mirror
      at the same cap (≡ all co-bucketed pairs while buckets ≤ cap).
    * lsh_sql_pairs_capped — all_pairs, cap=4; the dense families (6 > 4)
      drive the hot branch: all pairs among the hash-selected head
      (portable_salt, identical int64 arithmetic in both engines) +
      bucket-min star over every other doc.
    * lsh_sql_pairs_chain  — chain_star (the parity-mode default): lag()
      chain + running-first star, oracle mirrors the same two windows.
      Cap is raised so the (non-SQL-expressible xxhash64-salted) hot
      branch stays cold here; that branch is pinned by unit tests.
    """

    def q(spark, sf_dir):
        import dataclasses

        from cpp_near_dedupe_spark.operators.pairs import candidate_pairs
        from cpp_near_dedupe_spark.plans.sql_mode import sql_bands, sql_sketch

        from cpp_near_dedupe_spark.cache import track

        kw = {"pair_topology": topology}
        if cap is not None:
            kw["hot_band_cap"] = cap
        cfg = dataclasses.replace(CFG, **kw)
        bands = track(sql_bands(sql_sketch(_dense_docs(spark, sf_dir), cfg), cfg))
        return candidate_pairs(bands, cfg)

    return q


_q_lsh_sql_pairs_dense = _q_pairs_topology("all_pairs")
_q_lsh_sql_pairs_capped = _q_pairs_topology("all_pairs", cap=4)
_q_lsh_sql_pairs_chain = _q_pairs_topology("chain_star", cap=1_000_000)


def _chain_docs(spark, sf_dir):
    """documents ∪ two prefix-truncated copies — 4/5 and 13/20 of tokens —
    of every 5th doc with 30-250 tokens (ids offset by 2·10⁶ / 4·10⁶;
    mirrored by the oracle's documents_chain CTE). Prefix truncation keeps
    the shingle-subset property, and the 30-250 token window keeps sketches
    below the bottom-256 cap, so the copies score jaccard ≈ 0.80 (a~b) and
    ≈ 0.81 (b~c) while a~c scores ≈ 0.65 — BELOW threshold even when its
    bucket collides. The result is a~b~c duplicate CHAINS with no a~c edge:
    the topology where strict arrival-order greedy (keep a and c, drop b)
    provably diverges from connected-components (keep only a)."""
    from cpp_near_dedupe_spark.plans.sql_mode import TOKEN_SPLIT

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    toks = F.filter(F.split(F.lower(F.col("text")), TOKEN_SPLIT), lambda x: x != "")
    base = (
        docs.filter(F.col("doc_id") % 5 == 0)
        .select("doc_id", toks.alias("t"))
        .filter(F.size("t").between(30, 250))
    )

    def trunc(num: int, den: int, off: int):
        n = F.greatest(F.lit(5), F.floor(F.size("t") * num / den)).cast("int")
        return base.select(
            (F.col("doc_id") + F.lit(off)).alias("doc_id"),
            F.array_join(F.slice("t", F.lit(1), n), " ").alias("text"),
        )

    return docs.unionByName(trunc(4, 5, 2_000_000)).unionByName(
        trunc(13, 20, 4_000_000)
    )


def _q_lsh_sql_greedy_kept(spark, sf_dir):
    """Strict arrival-order greedy resolve (operators/greedy.py — the
    reference's per-doc keep/drop semantics, `ComparerThread.h:271-414`)
    over the SQL-expressible edge chain, hash-verified END-TO-END: the
    DuckDB oracle replays the same frontier fixed-point with a round-capped
    list-state recursive CTE (single-row state carrying the kept/decided
    sets, so the recursive term needs only one reference to the CTE —
    DuckDB 1.0 compatible). The chained corpus (_chain_docs) guarantees
    duplicate chains where greedy provably diverges from the CC resolve
    that lsh_sql_dedupe_kept verifies (13 divergent docs at sf0.01), so a
    green hash pins the greedy semantics specifically, not CC by accident."""
    from cpp_near_dedupe_spark.operators.greedy import greedy_resolve
    from cpp_near_dedupe_spark.plans.pipeline import run_pipeline

    docs = _chain_docs(spark, sf_dir)
    res = run_pipeline(spark, docs, CFG, stop_after="edges", family="sql")
    out = greedy_resolve(docs, res.edges.select("a", "b"), CFG)
    return out.filter(F.col("is_kept")).select("doc_id")


def _q_minhash_perm_signatures(spark, sf_dir):
    """Classical 128-permutation MinHash (operators/minhash_perm.py):
    JVM-side universal-hash permutations over md5-based shingle hashes,
    fully mirrored by the DuckDB oracle."""
    from cpp_near_dedupe_spark.operators.minhash_perm import minhash_perm_signatures

    out = minhash_perm_signatures(_docs(spark, sf_dir), num_perm=128)
    return out.select(
        "doc_id",
        "n_shingles",
        F.array_join(F.transform("signature", lambda x: x.cast("string")), ",").alias(
            "sig_concat"
        ),
    )


def _arrow_fixture_dir(sf_dir) -> str:
    """Deterministic .arrow stream fixture (documents sorted by doc_id,
    split into 2 contiguous stream files), built once per sf_dir with an
    atomic rename so a concurrent query run never observes a half-written
    fixture."""
    import hashlib
    import os

    from cpp_near_dedupe_spark.sources.arrow_ipc import write_arrow_ipc_fixture

    fix_dir = "/tmp/spark_graft_arrow_" + hashlib.md5(sf_dir.encode()).hexdigest()[:10]
    if not os.path.exists(os.path.join(fix_dir, "part_001.arrow")):
        tmp_dir = fix_dir + f".tmp{os.getpid()}"
        write_arrow_ipc_fixture(f"{sf_dir}/documents.parquet", tmp_dir, n_files=2)
        try:
            os.rename(tmp_dir, fix_dir)
        except OSError:  # raced: another process finished first
            import shutil

            shutil.rmtree(tmp_dir, ignore_errors=True)
    return fix_dir


def _q_arrow_ipc_scan(spark, sf_dir):
    """Arrow IPC stream-format ingestion (the reference's native input,
    SURVEY §2 S1/S2 — sources/arrow_ipc.py): a deterministic .arrow fixture
    is read back distributed, with the reference's (file_index, row_number)
    identity verified against the oracle's arithmetic reconstruction."""
    from cpp_near_dedupe_spark.sources.arrow_ipc import read_arrow_ipc

    df = read_arrow_ipc(spark, _arrow_fixture_dir(sf_dir), columns=["doc_id", "text"])
    return df.select(
        "doc_id",
        "file_index",
        "row_number",
        F.md5(F.col("text")).alias("text_md5"),
    )


def _q_arrow_ipc_roundtrip(spark, sf_dir):
    """The reference's full .arrow → dedupe → .arrow workflow
    (`DupeResolverThread.h:138-196`, schema passthrough `:215-218`), driver-
    hash-verified: read the stream fixture, dedupe with the SQL-expressible
    chain, write survivors back as a MIRRORED tree of .arrow stream files
    (sources/arrow_ipc.py write_arrow_ipc), re-read the output and return
    each survivor with its new (file_index, row_number) identity. The
    oracle reconstructs the kept set (recursive-CTE CC) and the rewritten
    identity arithmetically: survivors keep original file assignment and
    are re-numbered densely within each output file. Includes the post-
    write row-count validation pass (`:399-428`)."""
    import hashlib
    import shutil

    from cpp_near_dedupe_spark.plans.pipeline import run_pipeline
    from cpp_near_dedupe_spark.sources.arrow_ipc import (
        read_arrow_ipc,
        validate_arrow_ipc,
        write_arrow_ipc,
    )

    fix_dir = _arrow_fixture_dir(sf_dir)
    out_dir = (
        "/tmp/spark_graft_arrow_out_" + hashlib.md5(sf_dir.encode()).hexdigest()[:10]
    )
    shutil.rmtree(out_dir, ignore_errors=True)

    docs = read_arrow_ipc(spark, fix_dir)
    res = run_pipeline(spark, docs.select("doc_id", "text"), CFG, family="sql")
    kept = docs.join(
        res.resolved.filter(F.col("is_kept")).select("doc_id"), "doc_id", "left_semi"
    )
    summary = write_arrow_ipc(kept, fix_dir, out_dir).toPandas()
    validate_arrow_ipc(spark, out_dir, int(summary.rows.sum()))
    back = read_arrow_ipc(spark, out_dir, columns=["doc_id", "text"])
    return back.select(
        "doc_id", "file_index", "row_number", F.md5(F.col("text")).alias("text_md5")
    )


def _q_lsh_dedupe_32bit(spark, sf_dir):
    """Reference `-s 32` hash mode end-to-end (rows-only)."""
    from cpp_near_dedupe_spark.config import DedupeConfig
    from cpp_near_dedupe_spark.plans.pipeline import run_pipeline

    cfg32 = DedupeConfig(id_col="doc_id", text_col="text", hash_bits=32)
    res = run_pipeline(spark, _docs(spark, sf_dir), cfg32)
    return res.resolved


def _q_lsh_greedy_kept(spark, sf_dir):
    """Strict arrival-order greedy mode (operators/greedy.py): the
    reference's exact per-doc keep/drop semantics — drop iff ≥ threshold
    vs an already-RETAINED earlier doc (`ComparerThread.h:271-414`) — as a
    distributed fixed-point over the pipeline's verified edges. This row is
    rows-only because the XXH64 parity edges feeding it are not
    SQL-expressible; the greedy RESOLVE itself is hash-verified through
    ``lsh_sql_greedy_kept`` (recursive-CTE oracle over the md5 chain) and
    pinned locally against a sequential Python oracle (tests/test_greedy.py)."""
    from cpp_near_dedupe_spark.operators.greedy import greedy_resolve
    from cpp_near_dedupe_spark.plans.pipeline import run_pipeline

    docs = _docs(spark, sf_dir)
    res = run_pipeline(spark, docs, CFG, stop_after="edges")
    out = greedy_resolve(docs, res.edges.select("a", "b"), CFG)
    return out.filter(F.col("is_kept")).select("doc_id")


def _q_brute_force_dupe_pairs(spark, sf_dir):
    """O(n²) exact comparer (reference's BruteForce path, SURVEY §2 C3) —
    the ground-truth oracle; only runnable at test scale."""
    from cpp_near_dedupe_spark.operators.brute_force import brute_force_dupe_pairs

    out = brute_force_dupe_pairs(_docs(spark, sf_dir), CFG)
    return out.select("a", "b", F.round("jaccard", 6).alias("jaccard"))


def _q_lsh_bands_rbs(spark, sf_dir):
    """Random-bit-sampling band keys (reference default `rbs` mode,
    fixed-seed emulation — SURVEY §2 B2b)."""
    from cpp_near_dedupe_spark.config import DedupeConfig
    from cpp_near_dedupe_spark.operators.sketch_op import sketch_documents
    from cpp_near_dedupe_spark.operators.blocking import explode_bands

    cfg = DedupeConfig(id_col="doc_id", text_col="text", band_key_mode="rbs")
    sigs = sketch_documents(_docs(spark, sf_dir), cfg)
    return explode_bands(sigs, cfg).select(
        "doc_id", F.col("band_id").cast("long").alias("band_id"), "band_key"
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # Registry ORDER is part of the verification surface (r6, VERDICT r5
    # #1): the driver's correctness gate checks the FIRST 50 entries, so
    # oracle-backed queries that have never had a driver row (the r5 ER /
    # crawl / quality / composition additions), stale-green rows whose
    # modules changed since their last check, and every query this
    # optimization round touched are front-loaded inside the window. The
    # 11 rows-only parity queries and the longest-stable hash-green
    # analytics move to the back: they are pinned by their sql-mode twins
    # and the local test suite either way. Query semantics and oracle SQL
    # are byte-identical to r5 — only dict insertion order changed.
    raw = {
        # r5 record-linkage chain over the customer table — blocking, JW
        # scoring, transitive clusters, golden records, sorted-
        # neighborhood, blocking metrics; every stage has a full DuckDB
        # oracle, none ever had a driver correctness row before r6
        "er_records": _q_er_records,
        "er_candidate_pairs": _q_er_candidate_pairs,
        "er_matches": _q_er_matches,
        "er_clusters": _q_er_clusters,
        "er_golden_records": _q_er_golden_records,
        "er_sn_pairs": _q_er_sn_pairs,
        "er_sn_matches": _q_er_sn_matches,
        "er_blocking_report": _q_er_blocking_report,
        "er_matches_combined": _q_er_matches_combined,
        # r5 crawl-pipeline shaping stages (never driver-checked)
        "html_extract_text": _q_html_extract_text,
        "pii_scrub": _q_pii_scrub,
        "domain_cap_sample": _q_domain_cap_sample,
        "hash_split": _q_hash_split,
        "crawl_delta": _q_crawl_delta,
        # r5 SemDeDup / decontamination / span dedup / telemetry /
        # composition (never driver-checked)
        "semantic_dedupe": _q_semantic_dedupe,
        "ngram_contamination": _q_ngram_contamination,
        "duplicate_spans": _q_duplicate_spans,
        "dedupe_report": _q_dedupe_report,
        "web_clean_report": _q_web_clean_report,
        # green in r4 but their modules changed in r5 without a re-check
        "ann_topk": _q_ann_topk,
        "embedding_dupe_pairs": _q_embedding_dupe_pairs,
        "simhash_sql": _q_simhash_sql,
        "simhash_sql_pairs": _q_simhash_sql_pairs,
        "binary_features": _q_binary_features,
        "frame_offsets": _q_frame_offsets,
        # oracle-backed queries whose code paths this optimization round
        # touched (incremental survivor-id persists + threaded appends,
        # greedy distinct_pairs, CC checksum fusion, repetition batch
        # kernel, TF-IDF norm persist, web report count sourcing)
        "incremental_sql_dedupe": _q_incremental_sql_dedupe,
        "incremental_sql_strict": _q_incremental_sql_strict,
        "lsh_sql_greedy_kept": _q_lsh_sql_greedy_kept,
        "gopher_repetition": _q_gopher_repetition,
        "tfidf_cosine_adjacent": _q_tfidf_cosine_adjacent,
        # the SQL-expressible chain: same topology + shared pairing/CC/
        # resolve operators, md5 hash family -> full DuckDB oracles (CC
        # and the resolve tail changed this round -> kept in-window)
        "lsh_sql_signatures": _q_lsh_sql_signatures,
        "lsh_sql_bands": _q_lsh_sql_bands,
        "lsh_sql_candidate_pairs": _q_lsh_sql_candidate_pairs,
        "lsh_sql_dupe_edges": _q_lsh_sql_dupe_edges,
        "lsh_sql_clusters": _q_lsh_sql_clusters,
        "lsh_sql_dedupe_kept": _q_lsh_sql_dedupe_kept,
        # pair-topology queries over the densified corpus: each topology's
        # oracle mirrors ITS math (structural, not density-accidental)
        "lsh_sql_pairs_dense": _q_lsh_sql_pairs_dense,
        "lsh_sql_pairs_capped": _q_lsh_sql_pairs_capped,
        "lsh_sql_pairs_chain": _q_lsh_sql_pairs_chain,
        # .arrow ingestion + the full read→dedupe→write→read roundtrip
        # (the roundtrip runs the shared sql chain incl. this round's CC)
        "arrow_ipc_scan": _q_arrow_ipc_scan,
        "arrow_ipc_roundtrip": _q_arrow_ipc_roundtrip,
        "minhash_perm_signatures": _q_minhash_perm_signatures,
        # r5: the north-star pages input shape end-to-end (url identity;
        # runs the shared chain + CC)
        "pages_dedupe": _q_pages_dedupe,
        "pages_dedupe_first_seen": _q_pages_dedupe_first_seen,
        # r5: URL canonicalization / crawl-identity dedup / domain stats
        "url_canonicalize": _q_url_canonicalize,
        "url_dedupe_kept": _q_url_dedupe_kept,
        "url_domain_stats": _q_url_domain_stats,
        # r5/r5b quality + fluency rows rounding out the 50-row window
        "gopher_quality": _q_gopher_quality,
        "c4_clean": _q_c4_clean,
        "lm_fluency": _q_lm_fluency,
        # ---- position 51+ (outside the driver's 50-row gate) ----------
        # long-stable hash-green analytics, unchanged since r4/r5 and
        # still pinned by tools/check_queries.py + the local test suite
        "exact_dedupe": _q_exact_dedupe,
        "exact_dupe_groups": _q_exact_dupe_groups,
        "doc_stats": _q_doc_stats,
        "quality_score": _q_quality_score,
        "doc_fingerprint": _q_doc_fingerprint,
        "token_histogram": _q_token_histogram,
        "language_id": _q_language_id,
        "bpe_token_stats": _q_bpe_token_stats,
        "ngram_jaccard_adjacent": _q_ngram_jaccard_adjacent,
        "repeated_line_removal": _q_repeated_line_removal,
        "jaro_winkler_adjacent": _q_jaro_winkler_adjacent,
        "edit_distance_adjacent": _q_edit_distance_adjacent,
        "ngram_containment_adjacent": _q_ngram_containment_adjacent,
        "token_sort_jw_adjacent": _q_token_sort_jw_adjacent,
        # the near-dedupe pipeline chain (SURVEY.md §2: S/T/B/J/C/O
        # operators). Rows-only by nature: the reference-parity hash family
        # (XXH64 over UTF-16 of the bitset-tokenized text) is not
        # SQL-expressible, so no DuckDB oracle can exist; these are pinned
        # by golden vectors + property tests (tests/golden/*, SURVEY §5)
        # and by the lsh_sql_* twins above, which drive the SAME
        # pairing/CC/resolve operator objects under an md5 family DuckDB
        # computes — hash-green there verifies the shared machinery.
        "lsh_signatures": _q_lsh_signatures,
        "lsh_bands": _q_lsh_bands,
        "lsh_candidate_pairs": _q_lsh_candidate_pairs,
        "lsh_dupe_edges": _q_lsh_dupe_edges,
        "lsh_clusters": _q_lsh_clusters,
        "lsh_dedupe_kept": _q_lsh_dedupe_kept,
        "lsh_dedupe_32bit": _q_lsh_dedupe_32bit,
        "lsh_bands_rbs": _q_lsh_bands_rbs,
        "incremental_dedupe": _q_incremental_dedupe,
        "lsh_greedy_kept": _q_lsh_greedy_kept,
        # rows-only: scores XXH64-parity sketches (not SQL-expressible);
        # its value is the LSH ⊆ brute-force containment property test
        "brute_force_dupe_pairs": _q_brute_force_dupe_pairs,
        # simhash: the production fingerprint is XXH64-based (rows-only,
        # same reason as the parity chain); its sql twins sit in-window
        "simhash": _q_simhash,
        "simhash_dupe_pairs": _q_simhash_dupe_pairs,
        # the lsh/ivf ANN paths are APPROXIMATE by design (seeded
        # hyperplanes / k-means) — no SQL oracle can define their
        # candidate sets, so they are rows-only with measured-recall pins
        # in tests/test_ann_recall.py
        "ann_lsh_topk": _q_ann_lsh_topk,
        "ann_ivf_topk": _q_ann_ivf_topk,
        "embedding_dupe_pairs_lsh": _q_embedding_dupe_pairs_lsh,
        "semantic_dedupe_lsh": _q_semantic_dedupe_lsh,
        # rows-only: the decode step is an HONEST stub (no media libs in
        # the container — operators/multimodal.py gates it); the Spark-side
        # plumbing it exercises is real and the resize arithmetic is tested
        "binary_decode_stub": _q_binary_decode_stub,
    }

    def _released(fn):
        """Release the PREVIOUS query's tracked caches before building this
        one — the session-level cache-lifecycle contract
        (cpp_near_dedupe_spark/cache.py): a driver/bench loop over many
        queries never accumulates cached RDDs across queries."""

        def run(spark, sf_dir):
            release_all()
            return fn(spark, sf_dir)

        run.__name__ = getattr(fn, "__name__", "query")
        return run

    from cpp_near_dedupe_spark.cache import release_all

    return {k: _released(v) for k, v in raw.items()}


# ---------------------------------------------------------------------------
# DuckDB oracles (SQL-expressible queries only)
# ---------------------------------------------------------------------------

_TOKS = f"list_filter(string_split_regex(lower(text), '{_SPLIT}'), x -> x != '')"

# Gopher-rule select list (operators/quality_rules.gopher_quality_sql):
# the helper emits the seven integer-arithmetic rule expressions over
# whatever relation exposes (doc_id, text); _TOKS binds to that text.
from cpp_near_dedupe_spark.operators.quality_rules import (  # noqa: E402
    gopher_passes_sql,
    gopher_quality_sql,
)
from cpp_near_dedupe_spark.operators.pii import (  # noqa: E402
    pii_scrub_expr_sql as _pii_scrub_expr_sql,
)

_GOPHER_SELECT = gopher_quality_sql(_TOKS)


def _gopher_repetition_oracle() -> str:
    """Gopher §A1.2 repetition oracle: quality_repetition.gopher_repetition_sql
    over the inline subquery mirroring ``_repetition_docs``'s adornment
    (the helper emits its own WITH chain, so the source is a subquery, not
    an outer CTE)."""
    from cpp_near_dedupe_spark.operators.quality_repetition import (
        gopher_repetition_sql,
    )

    rdocs = """(
      SELECT doc_id,
             coalesce(text, '')
             || (CASE WHEN doc_id % 5 = 0
                   THEN chr(10) || 'repeated line' || chr(10) || 'repeated line'
                        || chr(10) || 'repeated line'
                   ELSE '' END)
             || (CASE WHEN doc_id % 7 = 0
                   THEN chr(10) || repeat('lorem ipsum dolor sit amet ', 12)
                   ELSE '' END)
             || (CASE WHEN doc_id % 11 = 0
                   THEN chr(10) || chr(10) || 'same para' || chr(10) || chr(10)
                        || 'same para'
                   ELSE '' END) AS text
      FROM documents)"""
    return gopher_repetition_sql(_TOKS, source=rdocs)


def _c4_clean_oracle() -> str:
    """C4 line/page filter oracle over the inline subquery mirroring
    ``_c4_docs``'s adornment."""
    from cpp_near_dedupe_spark.operators.c4_filters import c4_clean_sql

    cdocs = """(
      SELECT doc_id,
             coalesce(text, '')
             || chr(10) || 'This line survives the filter.'
             || chr(10) || 'And so does this one!'
             || chr(10) || 'A third keeps the page alive.'
             || (CASE WHEN doc_id % 4 = 0
                   THEN chr(10) || 'short line' ELSE '' END)
             || (CASE WHEN doc_id % 6 = 0
                   THEN chr(10) || 'Enable JavaScript to view this page.'
                   ELSE '' END)
             || (CASE WHEN doc_id % 13 = 0
                   THEN chr(10) || 'Lorem Ipsum dolor sit amet.'
                   ELSE '' END)
             || (CASE WHEN doc_id % 17 = 0
                   THEN chr(10) || 'function() { return 1; }'
                   ELSE '' END) AS text
      FROM documents)"""
    return c4_clean_sql(source=cdocs)

_LANG_SCORES = ", ".join(
    f"len(list_intersect(list_distinct({_TOKS}), "
    f"[{', '.join(repr(s) for s in STOPWORDS[lang])}])) AS s_{lang}"
    for lang in ("de", "en", "es", "fr")
)


# Shared CTE prefix for the SQL-mode LSH chain oracle: tokenize → 5-shingle
# → md5 → distinct → bottom-256 → 64×4 band split → band-key self-join →
# distinct pairs → set-Jaccard ≥ 0.7 → symmetric closure → recursive-CTE
# connected components (cluster id = min doc_id of the component). Mirrors
# cpp_near_dedupe_spark/plans/sql_mode.py expression for expression.
#
# ``dense`` variant: the generator's sf corpora have no band bucket dense
# enough for the pair topologies (all_pairs / chain_star / capped+star) to
# differ, so a hash-green pairs row there would not pin WHICH topology ran.
# The dense corpus unions 5 exact copies of every 50th doc (ids offset by
# k·10⁶, k=1..5) — six-member families whose identical sketches collide in
# every band, so the three topologies provably produce different pair sets
# and each one is verified against an oracle mirroring ITS math.
_DENSE_CTE = """
documents_dense AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + k * 1000000 AS doc_id, text
  FROM documents, range(1, 6) r(k) WHERE doc_id % 50 = 0)
"""


def _sqlmode_cte(source: str = "documents") -> str:
    return f"""
toks AS (
  SELECT doc_id, {_TOKS} AS t FROM {source}),
sigs AS (
  SELECT doc_id,
    (list_sort(list_distinct(list_transform(
       CASE WHEN len(t) >= 5
            THEN list_transform(range(1, len(t) - 3), i -> array_to_string(t[i:i+4], ' '))
            ELSE [] END,
       s -> md5(s)))))[1:256] AS sig
  FROM toks),
bands AS (
  SELECT doc_id, b AS band_id,
         md5(b::VARCHAR || ':' || array_to_string(sig[b*4+1:b*4+4], ',')) AS band_key
  FROM sigs, range(0, 64) r(b)
  WHERE len(sig) >= (b+1)*4),
cand AS (
  SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
  FROM bands l JOIN bands r ON l.band_key = r.band_key AND l.doc_id < r.doc_id),
edges AS (
  SELECT p.a, p.b,
         round(len(list_intersect(sa.sig, sb.sig)) * 1.0 /
               (len(sa.sig) + len(sb.sig) - len(list_intersect(sa.sig, sb.sig))), 6) AS jaccard
  FROM cand p JOIN sigs sa ON sa.doc_id = p.a JOIN sigs sb ON sb.doc_id = p.b),
dup AS (SELECT a, b FROM edges WHERE jaccard >= 0.7),
sym AS (SELECT a, b FROM dup UNION SELECT b AS a, a AS b FROM dup),
reach(node, r) AS (
  SELECT a AS node, a AS r FROM sym
  UNION
  SELECT e.b AS node, reach.r FROM reach JOIN sym e ON e.a = reach.node),
comp AS (SELECT node, min(r) AS cluster_id FROM reach GROUP BY node)
"""


_SQLMODE_CTE = _sqlmode_cte()


# Shared CTE prefix for the entity-resolution oracles: rebuilds the
# deterministic dirty-customer fixture expression-for-expression
# (operators/entity_resolution.py dirty_customer_records), then mirrors
# blocking (name prefix-2 + exact phone), all-pairs candidates within
# blocks (test-scale blocks are all far under the 256 cap, so the capped
# topology's cold path IS exact all-pairs; the hot path has its own
# structural unit test), the JW blend score with the same
# round-jw-then-round-blend discipline, threshold 0.85, recursive-CTE
# connected components, and coalesce-to-self for singletons.
_ER_CTE = """
er_base AS (
  SELECT c_custkey * 10 AS rec_id, c_custkey AS entity_id,
         translate(substr(md5(cast(c_custkey AS VARCHAR)), 1, 12),
                   '0123456789', 'ghijklmnop') AS name,
         lpad(cast(c_custkey AS VARCHAR), 9, '0') AS phone,
         cast(c_nationkey AS BIGINT) AS nation,
         c_mktsegment AS segment,
         round(c_acctbal, 2) AS bal
  FROM customer),
er_recs AS (
  SELECT rec_id, entity_id, name, phone, nation, segment, bal FROM er_base
  UNION ALL
  SELECT rec_id + 1, entity_id,
         concat(substr(name, 1, 3), substr(name, 5, 12)) AS name,
         phone, nation, segment, round(bal - 1.0, 2)
  FROM er_base WHERE entity_id % 7 = 0
  UNION ALL
  SELECT rec_id + 2, entity_id,
         concat(substr(name, 1, 8), substr(name, 10, 1), substr(name, 9, 1),
                substr(name, 11, 2)) AS name,
         concat('9', substr(phone, 2, 8)) AS phone,
         nation, segment, round(bal - 2.0, 2)
  FROM er_base WHERE entity_id % 13 = 0),
er_blocks AS (
  SELECT concat('nm:', substr(name, 1, 2)) AS block_key, rec_id FROM er_recs
  UNION ALL
  SELECT concat('ph:', phone) AS block_key, rec_id FROM er_recs),
er_cand AS (
  SELECT DISTINCT l.rec_id AS a, r.rec_id AS b
  FROM er_blocks l
  JOIN er_blocks r ON l.block_key = r.block_key AND l.rec_id < r.rec_id),
er_scored AS (
  SELECT p.a, p.b,
         round(jaro_winkler_similarity(la.name, rb.name), 6) AS jw,
         round(round(jaro_winkler_similarity(la.name, rb.name), 6) * 0.8
               + (CASE WHEN la.phone = rb.phone THEN 1.0 ELSE 0.0 END) * 0.1
               + (CASE WHEN la.nation = rb.nation THEN 1.0 ELSE 0.0 END) * 0.1,
               6) AS score
  FROM er_cand p
  JOIN er_recs la ON la.rec_id = p.a
  JOIN er_recs rb ON rb.rec_id = p.b),
er_matches AS (SELECT a, b, jw, score FROM er_scored WHERE score >= 0.85),
er_sym AS (
  SELECT a, b FROM er_matches UNION SELECT b AS a, a AS b FROM er_matches),
er_reach(node, r) AS (
  SELECT a AS node, a AS r FROM er_sym
  UNION
  SELECT e.b AS node, er_reach.r
  FROM er_reach JOIN er_sym e ON e.a = er_reach.node),
er_comp AS (SELECT node, min(r) AS cluster_id FROM er_reach GROUP BY node),
er_clusters AS (
  SELECT er_recs.rec_id,
         coalesce(er_comp.cluster_id, er_recs.rec_id) AS cluster_id
  FROM er_recs LEFT JOIN er_comp ON er_comp.node = er_recs.rec_id)
"""

# Shared CTE for the URL oracles: rebuilds the messy-URL fixture
# (__spark_entry__._messy_urls) and mirrors operators/urls.py
# canonicalize_url rule-for-rule. Every regexp is anchored (at most one
# match), so DuckDB's replace-first and Spark's replace-all agree.
_URL_CTE = """
url_base AS (
  SELECT doc_id, cast(doc_id AS VARCHAR) AS p,
         cast(doc_id % 5 AS VARCHAR) AS shard
  FROM documents),
url_raw AS (
  SELECT concat('https://s', shard, '.example.com/a/', p) AS url
  FROM url_base
  UNION ALL
  SELECT CASE doc_id % 4
    WHEN 0 THEN concat('https://S', shard, '.Example.COM/a/', p, '/')
    WHEN 1 THEN concat('https://s', shard, '.example.com/a/', p,
                       '?utm_source=feed&ref=rss')
    WHEN 2 THEN concat('https://s', shard, '.example.com/a/', p,
                       '?b=2&a=1&utm_campaign=x#frag')
    ELSE concat('HTTPS://s', shard, '.example.com:443/a/', p) END
  FROM url_base),
url_canon AS (
  SELECT url, concat(
    regexp_replace(regexp_replace(
      lower(regexp_extract(u, '^([^/]*//[^/?]*)', 1)), ':443$', ''),
      ':80$', ''),
    regexp_replace(
      regexp_replace(regexp_replace(u, '^[^/]*//[^/?]*', ''),
                     '\\?.*$', ''),
      '/$', ''),
    CASE WHEN kept != '' THEN concat('?', kept) ELSE '' END) AS canonical_url
  FROM (
    SELECT url, u,
           array_to_string(list_sort(list_filter(
             string_split(regexp_extract(u, '\\?(.*)$', 1), '&'),
             x -> x != '' AND NOT (starts_with(x, 'utm_')
                  OR starts_with(x, 'fbclid=') OR starts_with(x, 'gclid=')
                  OR starts_with(x, 'ref=')))), '&') AS kept
    FROM (SELECT url, regexp_replace(url, '#.*$', '') AS u FROM url_raw)))
"""


def _canon_from_sql(src: str, carry: str = "text") -> str:
    """DuckDB derived table: ({carry}, canonical_url) from a (url, {carry})
    relation — the same canonicalization algebra as ``_URL_CTE``, reused
    by the crawl-delta oracle over each snapshot and the web-pipeline
    oracle (``carry='html'``)."""
    return f"""(
  SELECT {carry}, concat(
    regexp_replace(regexp_replace(
      lower(regexp_extract(u, '^([^/]*//[^/?]*)', 1)), ':443$', ''),
      ':80$', ''),
    regexp_replace(
      regexp_replace(regexp_replace(u, '^[^/]*//[^/?]*', ''),
                     '\\?.*$', ''),
      '/$', ''),
    CASE WHEN kept != '' THEN concat('?', kept) ELSE '' END) AS canonical_url
  FROM (
    SELECT u, {carry},
           array_to_string(list_sort(list_filter(
             string_split(regexp_extract(u, '\\?(.*)$', 1), '&'),
             x -> x != '' AND NOT (starts_with(x, 'utm_')
                  OR starts_with(x, 'fbclid=') OR starts_with(x, 'gclid=')
                  OR starts_with(x, 'ref=')))), '&') AS kept
    FROM (SELECT regexp_replace(url, '#.*$', '') AS u, {carry} FROM {src})))"""

# mirror of _chain_docs: prefix-truncated copies (4/5 and 13/20 of tokens) of
# every 5th doc with 30-250 tokens — a~b~c jaccard chains with no a~c edge,
# the topology where greedy and connected-components provably diverge
_CHAIN_CTE = f"""
base_toks AS (
  SELECT doc_id, t FROM (SELECT doc_id, {_TOKS} AS t FROM documents)
  WHERE doc_id % 5 = 0 AND len(t) BETWEEN 30 AND 250),
documents_chain AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 2000000 AS doc_id,
         array_to_string(t[1:greatest(5, (len(t) * 4) // 5)], ' ') AS text
  FROM base_toks
  UNION ALL
  SELECT doc_id + 4000000 AS doc_id,
         array_to_string(t[1:greatest(5, (len(t) * 13) // 20)], ' ') AS text
  FROM base_toks)
"""

# strict arrival-order greedy as a round-capped recursive CTE: the state is a
# SINGLE ROW carrying (kept ids, decided ids) as lists, advanced one frontier
# round per iteration — docs whose earlier neighbors are all decided become
# decided; kept iff no earlier KEPT neighbor (`greedy.py` frontier rounds,
# reference semantics `ComparerThread.h:271-414`). Single-row state means the
# recursive term references the CTE exactly once (DuckDB 1.0 compatible);
# termination: every round decides ≥1 doc, so len(dec) reaches the node count
# (r < 64 is a safety cap matching greedy_resolve's max_rounds).
_GREEDY_ORACLE = f"""
    WITH RECURSIVE {_CHAIN_CTE},
    {_sqlmode_cte("documents_chain")},
    nodes AS (SELECT a AS id FROM dup UNION SELECT b AS id FROM dup),
    st(r, kept, dec) AS (
      SELECT 0, CAST([] AS BIGINT[]), CAST([] AS BIGINT[])
      UNION ALL
      SELECT r + 1,
        kept || coalesce((SELECT list(n.id) FROM nodes n
           WHERE NOT list_contains(st.dec, n.id)
             AND NOT EXISTS (SELECT 1 FROM dup e
                             WHERE e.b = n.id AND NOT list_contains(st.dec, e.a))
             AND NOT EXISTS (SELECT 1 FROM dup e
                             WHERE e.b = n.id AND list_contains(st.kept, e.a))), []),
        dec || coalesce((SELECT list(n.id) FROM nodes n
           WHERE NOT list_contains(st.dec, n.id)
             AND NOT EXISTS (SELECT 1 FROM dup e
                             WHERE e.b = n.id AND NOT list_contains(st.dec, e.a))), [])
      FROM st
      WHERE r < 64 AND len(dec) < (SELECT count(*) FROM nodes)),
    fin AS (SELECT kept, dec FROM st ORDER BY r DESC LIMIT 1)
    SELECT d.doc_id
    FROM documents_chain d, fin f
    WHERE NOT list_contains(f.dec, d.doc_id) OR list_contains(f.kept, d.doc_id)
"""

# the tokenize→sketch→band prefix only (no pair/edge/CC CTEs) over the
# densified corpus — the pair-topology oracles append their own pair math
_DENSE_BANDS_PREFIX = (
    _DENSE_CTE
    + ","
    + _sqlmode_cte("documents_dense").split("cand AS")[0].rstrip().rstrip(",")
)


def _capped_pairs_oracle(cap: int) -> str:
    """DuckDB mirror of operators/pairs.py all_pairs (the WINDOWLESS
    capped+star): buckets ≤ cap emit all co-bucketed pairs; over-cap
    buckets emit all pairs among the hash-selected head
    (``portable_salt(doc_id, ceil(size/cap)) == 0`` — the identical int64
    arithmetic on both engines) plus (bucket minimum, doc) star edges for
    every other doc; distinct across bands. The equivalence is structural
    at ANY fixture density."""
    from cpp_near_dedupe_spark.operators.pairs import portable_salt_sql

    head_salt = portable_salt_sql("doc_id", f"(c + {cap - 1}) // {cap}")
    return f"""
        WITH {_DENSE_BANDS_PREFIX},
        stats AS (
          SELECT band_key, count(*) AS c, min(doc_id) AS gmin
          FROM bands GROUP BY band_key),
        aug AS (
          SELECT b.doc_id, b.band_key, s.c, s.gmin
          FROM bands b JOIN stats s USING (band_key)),
        cold AS (SELECT * FROM aug WHERE c <= {cap}),
        cp AS (
          SELECT l.doc_id AS a, r.doc_id AS b
          FROM cold l JOIN cold r
            ON l.band_key = r.band_key AND l.doc_id < r.doc_id),
        hot AS (SELECT * FROM aug WHERE c > {cap}),
        head AS (SELECT * FROM hot WHERE {head_salt} = 0),
        hp AS (
          SELECT l.doc_id AS a, r.doc_id AS b
          FROM head l JOIN head r
            ON l.band_key = r.band_key AND l.doc_id < r.doc_id),
        sp AS (SELECT gmin AS a, doc_id AS b FROM hot WHERE doc_id != gmin)
        SELECT DISTINCT a, b FROM (
          SELECT * FROM cp UNION ALL SELECT * FROM hp UNION ALL SELECT * FROM sp)
    """


_CHAIN_PAIRS_ORACLE = f"""
    WITH {_DENSE_BANDS_PREFIX},
    w AS (
      SELECT doc_id,
             lag(doc_id) OVER (PARTITION BY band_key ORDER BY doc_id) AS prev,
             first_value(doc_id) OVER (PARTITION BY band_key ORDER BY doc_id) AS bmin
      FROM bands),
    chain AS (SELECT prev AS a, doc_id AS b FROM w WHERE prev IS NOT NULL),
    star AS (SELECT bmin AS a, doc_id AS b FROM w
             WHERE bmin != doc_id AND bmin != prev)
    SELECT DISTINCT a, b FROM (SELECT * FROM chain UNION ALL SELECT * FROM star)
"""


def _incremental_oracle() -> str:
    """DuckDB replay of the incremental batch-sequential pass (r5): the
    corpus splits at h = count/2; batch 1 is deduped within itself
    (band-colliding pairs → jaccard ≥ 0.7 → recursive-CTE CC → keep-min)
    and its SURVIVORS form the retained state; batch 2 is deduped within
    itself the same way, then a batch-2 survivor is dropped iff it shares
    a (band_id, band_key) with a retained batch-1 doc and scores
    jaccard ≥ 0.7 against it — exactly dedupe_increment's default path
    (streaming/incremental.py), stage for stage. Two independent
    recursive CCs (reach1/reach2) mirror the two within-batch
    connected-components calls; sketches are batch-independent, so one
    global sigs/bands prefix serves every stage."""
    prefix = _sqlmode_cte().split("cand AS")[0].rstrip().rstrip(",")
    jac = (
        "round(len(list_intersect(sa.sig, sb.sig)) * 1.0 / "
        "(len(sa.sig) + len(sb.sig) - len(list_intersect(sa.sig, sb.sig))), 6)"
    )

    def batch_cc(tag: str, pred: str) -> str:
        return f"""
    cand{tag} AS (
      SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
      FROM bands l JOIN bands r
        ON l.band_key = r.band_key AND l.doc_id < r.doc_id
      WHERE {pred}),
    edges{tag} AS (
      SELECT p.a, p.b, {jac} AS jaccard
      FROM cand{tag} p
      JOIN sigs sa ON sa.doc_id = p.a JOIN sigs sb ON sb.doc_id = p.b),
    dup{tag} AS (SELECT a, b FROM edges{tag} WHERE jaccard >= 0.7),
    sym{tag} AS (
      SELECT a, b FROM dup{tag} UNION SELECT b AS a, a AS b FROM dup{tag}),
    reach{tag}(node, r) AS (
      SELECT a AS node, a AS r FROM sym{tag}
      UNION
      SELECT e.b AS node, reach{tag}.r
      FROM reach{tag} JOIN sym{tag} e ON e.a = reach{tag}.node),
    comp{tag} AS (
      SELECT node, min(r) AS cluster_id FROM reach{tag} GROUP BY node)"""

    return f"""
    WITH RECURSIVE {prefix},
    half AS (SELECT count(*) // 2 AS h FROM documents),
    {batch_cc("1", "r.doc_id < (SELECT h FROM half)")},
    kept1 AS (
      SELECT d.doc_id
      FROM documents d LEFT JOIN comp1 c ON c.node = d.doc_id
      WHERE d.doc_id < (SELECT h FROM half)
        AND coalesce(c.cluster_id, d.doc_id) = d.doc_id),
    {batch_cc("2", "l.doc_id >= (SELECT h FROM half)")},
    kept2a AS (
      SELECT d.doc_id
      FROM documents d LEFT JOIN comp2 c ON c.node = d.doc_id
      WHERE d.doc_id >= (SELECT h FROM half)
        AND coalesce(c.cluster_id, d.doc_id) = d.doc_id),
    candx AS (
      SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
      FROM bands l
      JOIN kept2a k2 ON k2.doc_id = l.doc_id
      JOIN bands r ON r.band_id = l.band_id AND r.band_key = l.band_key
      JOIN kept1 k1 ON k1.doc_id = r.doc_id
      WHERE l.doc_id != r.doc_id),
    edgesx AS (
      SELECT p.a, p.b, {jac} AS jaccard
      FROM candx p
      JOIN sigs sa ON sa.doc_id = p.a JOIN sigs sb ON sb.doc_id = p.b),
    dropx AS (SELECT DISTINCT a FROM edgesx WHERE jaccard >= 0.7)
    SELECT k.doc_id FROM kept2a k
    WHERE k.doc_id NOT IN (SELECT a FROM dropx)
    """


def _greedy_st_cte(tag: str, dup: str, nodes: str) -> str:
    """Round-capped single-row list-state greedy CTE (the _GREEDY_ORACLE
    construction, parameterized): one frontier round per iteration over
    the ``dup`` edge set; docs whose earlier neighbors are all decided
    become decided; kept iff no earlier KEPT neighbor. Single-row state →
    the recursive term references the CTE exactly once (DuckDB 1.0
    compatible)."""
    return f"""
    st{tag}(r, kept, dec) AS (
      SELECT 0, CAST([] AS BIGINT[]), CAST([] AS BIGINT[])
      UNION ALL
      SELECT r + 1,
        kept || coalesce((SELECT list(n.id) FROM {nodes} n
           WHERE NOT list_contains(st{tag}.dec, n.id)
             AND NOT EXISTS (SELECT 1 FROM {dup} e
                             WHERE e.b = n.id AND NOT list_contains(st{tag}.dec, e.a))
             AND NOT EXISTS (SELECT 1 FROM {dup} e
                             WHERE e.b = n.id AND list_contains(st{tag}.kept, e.a))), []),
        dec || coalesce((SELECT list(n.id) FROM {nodes} n
           WHERE NOT list_contains(st{tag}.dec, n.id)
             AND NOT EXISTS (SELECT 1 FROM {dup} e
                             WHERE e.b = n.id AND NOT list_contains(st{tag}.dec, e.a))), [])
      FROM st{tag}
      WHERE r < 64 AND len(dec) < (SELECT count(*) FROM {nodes} )),
    fin{tag} AS (SELECT kept, dec FROM st{tag} ORDER BY r DESC LIMIT 1)"""


def _incremental_strict_oracle() -> str:
    """DuckDB replay of the STRICT-order incremental pass over the chained
    corpus (r5): batch 1 (doc_id < h over the base table; all chain-copy
    offset ids land in batch 2) runs arrival-order greedy over its
    within-batch dup edges and its kept set seeds the state; batch 2
    drops every doc matching a retained batch-1 doc FIRST (band-colliding
    + jaccard ≥ 0.7 — they can never be retained, so they also cannot
    drop anyone: _dedupe_increment_strict's factoring), then arrival-
    order greedy runs over the within-batch edges of the REMAINDER.
    Two independent list-state greedy CTEs (st1/st2) replay the two
    passes."""
    prefix = _sqlmode_cte("documents_chain").split("cand AS")[0].rstrip().rstrip(",")
    jac = (
        "round(len(list_intersect(sa.sig, sb.sig)) * 1.0 / "
        "(len(sa.sig) + len(sb.sig) - len(list_intersect(sa.sig, sb.sig))), 6)"
    )
    return f"""
    WITH RECURSIVE {_CHAIN_CTE},
    {prefix},
    half AS (SELECT count(*) // 2 AS h FROM documents),
    cand1 AS (
      SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
      FROM bands l JOIN bands r
        ON l.band_key = r.band_key AND l.doc_id < r.doc_id
      WHERE r.doc_id < (SELECT h FROM half)),
    edges1 AS (
      SELECT p.a, p.b, {jac} AS jaccard
      FROM cand1 p
      JOIN sigs sa ON sa.doc_id = p.a JOIN sigs sb ON sb.doc_id = p.b),
    dup1 AS (SELECT a, b FROM edges1 WHERE jaccard >= 0.7),
    nodes1 AS (SELECT a AS id FROM dup1 UNION SELECT b AS id FROM dup1),
    {_greedy_st_cte("1", "dup1", "nodes1")},
    kept1 AS (
      SELECT d.doc_id
      FROM documents_chain d, fin1 f
      WHERE d.doc_id < (SELECT h FROM half)
        AND (NOT list_contains(f.dec, d.doc_id)
             OR list_contains(f.kept, d.doc_id))),
    candx AS (
      SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
      FROM bands l
      JOIN bands r ON r.band_id = l.band_id AND r.band_key = l.band_key
      JOIN kept1 k1 ON k1.doc_id = r.doc_id
      WHERE l.doc_id >= (SELECT h FROM half) AND l.doc_id != r.doc_id),
    edgesx AS (
      SELECT p.a, p.b, {jac} AS jaccard
      FROM candx p
      JOIN sigs sa ON sa.doc_id = p.a JOIN sigs sb ON sb.doc_id = p.b),
    dropx AS (SELECT DISTINCT a FROM edgesx WHERE jaccard >= 0.7),
    live2 AS (
      SELECT doc_id FROM documents_chain
      WHERE doc_id >= (SELECT h FROM half)
        AND doc_id NOT IN (SELECT a FROM dropx)),
    cand2 AS (
      SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
      FROM bands l JOIN bands r
        ON l.band_key = r.band_key AND l.doc_id < r.doc_id
      JOIN live2 x ON x.doc_id = l.doc_id
      JOIN live2 y ON y.doc_id = r.doc_id),
    edges2 AS (
      SELECT p.a, p.b, {jac} AS jaccard
      FROM cand2 p
      JOIN sigs sa ON sa.doc_id = p.a JOIN sigs sb ON sb.doc_id = p.b),
    dup2 AS (SELECT a, b FROM edges2 WHERE jaccard >= 0.7),
    nodes2 AS (SELECT a AS id FROM dup2 UNION SELECT b AS id FROM dup2),
    {_greedy_st_cte("2", "dup2", "nodes2")}
    SELECT d.doc_id
    FROM live2 d, fin2 f
    WHERE NOT list_contains(f.dec, d.doc_id) OR list_contains(f.kept, d.doc_id)
    """


def _minhash_perm_oracle() -> str:
    from cpp_near_dedupe_spark.operators.minhash_perm import MERSENNE_P, perm_params

    plit = "[" + ", ".join(f"[{a}, {b}]" for a, b in perm_params(128)) + "]"
    return f"""
        WITH toks AS (
          SELECT doc_id, {_TOKS} AS t FROM documents),
        sh AS (
          SELECT doc_id, list_distinct(CASE WHEN len(t) >= 5
            THEN list_transform(range(1, len(t) - 3), i -> array_to_string(t[i:i+4], ' '))
            ELSE [] END) AS s FROM toks),
        base AS (
          SELECT doc_id,
                 list_transform(s, x -> CAST(('0x' || substr(md5(x), 1, 8)) AS BIGINT)) AS bs
          FROM sh)
        SELECT doc_id, len(bs)::BIGINT AS n_shingles,
               CASE WHEN len(bs) > 0
                    THEN array_to_string(list_transform({plit},
                         p -> list_min(list_transform(bs, x -> (p[1] * x + p[2]) % {MERSENNE_P}))), ',')
                    ELSE '' END AS sig_concat
        FROM base
    """


def oracle_sql() -> dict[str, str]:
    return {
        "minhash_perm_signatures": _minhash_perm_oracle(),
        "incremental_sql_dedupe": _incremental_oracle(),
        "incremental_sql_strict": _incremental_strict_oracle(),
        "lsh_sql_signatures": f"""
            WITH RECURSIVE {_SQLMODE_CTE}
            SELECT doc_id, len(sig)::BIGINT AS sig_len,
                   array_to_string(sig, ',') AS sig_concat
            FROM sigs
        """,
        "lsh_sql_bands": f"""
            WITH RECURSIVE {_SQLMODE_CTE}
            SELECT doc_id, band_id::BIGINT AS band_id, band_key FROM bands
        """,
        "lsh_sql_candidate_pairs": f"""
            WITH RECURSIVE {_SQLMODE_CTE}
            SELECT a, b FROM cand
        """,
        "lsh_sql_dupe_edges": f"""
            WITH RECURSIVE {_SQLMODE_CTE}
            SELECT a, b, jaccard FROM edges WHERE jaccard >= 0.7
        """,
        "lsh_sql_clusters": f"""
            WITH RECURSIVE {_SQLMODE_CTE}
            SELECT d.doc_id,
                   coalesce(c.cluster_id, d.doc_id) AS cluster_id,
                   (coalesce(c.cluster_id, d.doc_id) = d.doc_id) AS is_kept
            FROM documents d LEFT JOIN comp c ON c.node = d.doc_id
        """,
        "lsh_sql_dedupe_kept": f"""
            WITH RECURSIVE {_SQLMODE_CTE}
            SELECT d.doc_id, d.lang, d.source
            FROM documents d LEFT JOIN comp c ON c.node = d.doc_id
            WHERE coalesce(c.cluster_id, d.doc_id) = d.doc_id
        """,
        "lsh_sql_pairs_dense": _capped_pairs_oracle(DedupeConfig().hot_band_cap),
        "lsh_sql_pairs_capped": _capped_pairs_oracle(4),
        "lsh_sql_pairs_chain": _CHAIN_PAIRS_ORACLE,
        "lsh_sql_greedy_kept": _GREEDY_ORACLE,
        "arrow_ipc_scan": """
            WITH ranked AS (
              SELECT doc_id, text,
                     row_number() OVER (ORDER BY doc_id) - 1 AS r,
                     count(*) OVER () AS n
              FROM documents)
            SELECT doc_id,
                   r // ((n + 1) // 2) AS file_index,
                   r % ((n + 1) // 2) AS row_number,
                   md5(text) AS text_md5
            FROM ranked
        """,
        "arrow_ipc_roundtrip": f"""
            WITH RECURSIVE {_SQLMODE_CTE},
            kept AS (
              SELECT d.doc_id, d.text
              FROM documents d LEFT JOIN comp c ON c.node = d.doc_id
              WHERE coalesce(c.cluster_id, d.doc_id) = d.doc_id),
            ranked AS (
              SELECT doc_id,
                     row_number() OVER (ORDER BY doc_id) - 1 AS r,
                     count(*) OVER () AS n
              FROM documents),
            files AS (SELECT doc_id, r // ((n + 1) // 2) AS file_index FROM ranked)
            SELECT k.doc_id, f.file_index,
                   row_number() OVER (PARTITION BY f.file_index ORDER BY k.doc_id) - 1
                     AS row_number,
                   md5(k.text) AS text_md5
            FROM kept k JOIN files f ON f.doc_id = k.doc_id
        """,
        "exact_dedupe": """
            SELECT md5(text) AS text_md5, min(doc_id) AS kept_id, count(*) AS n_copies
            FROM documents GROUP BY md5(text)
        """,
        "exact_dupe_groups": """
            WITH docs2 AS (
              SELECT doc_id, text FROM documents
              UNION ALL
              SELECT doc_id + 1000000 AS doc_id, text FROM documents
              WHERE doc_id % 10 = 0)
            SELECT md5(text) AS text_md5, min(doc_id) AS kept_id, count(*) AS n_copies
            FROM docs2 GROUP BY md5(text) HAVING count(*) > 1
        """,
        "doc_stats": f"""
            SELECT doc_id,
                   length(text) AS n_chars_actual,
                   len({_TOKS}) AS n_words,
                   len(list_distinct({_TOKS})) AS n_distinct_words,
                   round(CASE WHEN len({_TOKS}) > 0
                         THEN list_sum(list_transform({_TOKS}, x -> length(x))) * 1.0 / len({_TOKS})
                         ELSE 0.0 END, 4) AS avg_word_len
            FROM documents
        """,
        "quality_score": """
            SELECT doc_id,
                   round(CASE WHEN length(text) > 0 THEN
                     (length(text) - length(regexp_replace(text, '[a-zA-Z]', '', 'g'))) * 1.0 / length(text)
                     ELSE 0.0 END, 6) AS alpha_ratio,
                   round(CASE WHEN length(text) > 0 THEN
                     (length(text) - length(regexp_replace(text, '[0-9]', '', 'g'))) * 1.0 / length(text)
                     ELSE 0.0 END, 6) AS digit_ratio,
                   round(CASE WHEN length(text) > 0 THEN
                     (length(text) - length(replace(text, ' ', ''))) * 1.0 / length(text)
                     ELSE 0.0 END, 6) AS space_ratio,
                   round(CASE WHEN length(text) > 0 THEN
                     ((length(text) - length(regexp_replace(text, '[a-zA-Z]', '', 'g')))
                      + (length(text) - length(replace(text, ' ', '')))) * 1.0 / length(text)
                     - 0.5 * (length(text) - length(regexp_replace(text, '[0-9]', '', 'g'))) / length(text)
                     ELSE 0.0 END, 6) AS quality
            FROM documents
        """,
        "doc_fingerprint": """
            SELECT doc_id, md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fingerprint
            FROM documents
        """,
        "token_histogram": f"""
            SELECT token, count(*) AS cnt
            FROM (SELECT unnest({_TOKS}) AS token FROM documents)
            GROUP BY token HAVING count(*) >= 100
        """,
        "language_id": f"""
            WITH scored AS (SELECT doc_id, {_LANG_SCORES} FROM documents),
            best AS (SELECT doc_id, s_de, s_en, s_es, s_fr,
                            greatest(s_de, s_en, s_es, s_fr) AS b FROM scored)
            SELECT doc_id,
                   CASE WHEN b = 0 THEN 'und'
                        WHEN s_de = b THEN 'de'
                        WHEN s_en = b THEN 'en'
                        WHEN s_es = b THEN 'es'
                        ELSE 'fr' END AS lang_pred,
                   round(b / 10.0, 4) AS lang_score
            FROM best
        """,
        "bpe_token_stats": r"""
            WITH p AS (
              SELECT doc_id,
                     regexp_extract_all(lower(text),
                       '[a-z]+|[0-9]+|[^a-z0-9\t\n\f\r ]+') AS ps
              FROM documents)
            SELECT doc_id,
                   len(ps)::BIGINT AS n_pieces,
                   len(list_filter(ps, x -> substr(x, 1, 1) BETWEEN 'a' AND 'z'))::BIGINT
                     AS n_alpha_pieces,
                   len(list_filter(ps, x -> substr(x, 1, 1) BETWEEN '0' AND '9'))::BIGINT
                     AS n_digit_pieces,
                   (len(ps)
                    - len(list_filter(ps, x -> substr(x, 1, 1) BETWEEN 'a' AND 'z'))
                    - len(list_filter(ps, x -> substr(x, 1, 1) BETWEEN '0' AND '9')))::BIGINT
                     AS n_other_pieces,
                   coalesce(list_sum(list_transform(ps, x -> length(x))), 0)::BIGINT
                     AS n_piece_chars
            FROM p
        """,
        "repeated_line_removal": r"""
            WITH base AS (
              SELECT doc_id,
                     regexp_replace(text, '\. ', chr(10), 'g') ||
                     CASE WHEN doc_id % 3 = 0
                          THEN chr(10) || 'subscribe to our newsletter today'
                          ELSE '' END AS text
              FROM documents),
            l AS (
              SELECT doc_id,
                     unnest(string_split(text, chr(10))) AS line,
                     unnest(range(1, len(string_split(text, chr(10))) + 1)) AS idx
              FROM base),
            counts AS (
              SELECT md5(line) AS h, count(DISTINCT doc_id) AS n
              FROM l GROUP BY 1),
            boiler AS (SELECT h FROM counts WHERE n >= 2),
            tagged AS (
              SELECT doc_id, idx, line,
                     md5(line) IN (SELECT h FROM boiler) AS is_boiler
              FROM l),
            kept AS (
              SELECT doc_id, string_agg(line, chr(10) ORDER BY idx) AS clean
              FROM tagged WHERE NOT is_boiler GROUP BY doc_id),
            stats AS (
              SELECT doc_id, count(*)::BIGINT AS n_lines,
                     sum(CASE WHEN is_boiler THEN 1 ELSE 0 END)::BIGINT AS n_removed
              FROM tagged GROUP BY doc_id)
            SELECT s.doc_id, s.n_lines, s.n_removed,
                   md5(coalesce(k.clean, '')) AS clean_md5
            FROM stats s LEFT JOIN kept k ON k.doc_id = s.doc_id
        """,
        "gopher_quality": f"""
            WITH gdocs AS (
              SELECT doc_id,
                     (CASE WHEN doc_id % 6 = 0
                           THEN '- item one' || chr(10) || '- item two' || chr(10)
                           ELSE '' END)
                     || coalesce(text, '')
                     || (CASE WHEN doc_id % 8 = 0 THEN ' ####' ELSE '' END)
                     || (CASE WHEN doc_id % 9 = 0
                           THEN chr(10) || 'to be continued...' || chr(10)
                                || 'more soon...'
                           ELSE '' END) AS text
              FROM documents)
            {_GOPHER_SELECT} FROM gdocs
        """,
        "gopher_repetition": _gopher_repetition_oracle(),
        "c4_clean": _c4_clean_oracle(),
        "ngram_contamination": f"""
            WITH toks AS (SELECT doc_id, {_TOKS} AS w FROM documents),
            cgrams AS (
              SELECT doc_id,
                     list_distinct(CASE WHEN len(w) >= 13
                       THEN list_transform(range(1, len(w) - 11),
                            i -> array_to_string(w[i:i+12], ' '))
                       ELSE [] END) AS g
              FROM toks),
            bench AS (
              SELECT DISTINCT unnest(g) AS gram FROM cgrams
              WHERE doc_id % 17 = 0),
            doc_g AS (SELECT doc_id, unnest(g) AS gram FROM cgrams),
            hits AS (
              SELECT doc_id, count(*)::BIGINT AS n_ngrams,
                     sum(CASE WHEN gram IN (SELECT gram FROM bench)
                         THEN 1 ELSE 0 END)::BIGINT AS n_hit
              FROM doc_g GROUP BY doc_id)
            SELECT d.doc_id,
                   coalesce(h.n_ngrams, 0)::BIGINT AS n_ngrams,
                   coalesce(h.n_hit, 0)::BIGINT AS n_hit,
                   coalesce(h.n_hit, 0) > 0 AS contaminated
            FROM documents d LEFT JOIN hits h ON h.doc_id = d.doc_id
        """,
        "duplicate_spans": f"""
            WITH toks AS (SELECT doc_id, {_TOKS} AS w FROM documents),
            sbase AS (
              SELECT doc_id, len(w)::BIGINT AS n_tokens,
                     CASE WHEN len(w) >= 30
                          THEN list_transform(range(1, len(w) - 28),
                               i -> md5(array_to_string(w[i:i+29], ' ')))
                          ELSE [] END AS h
              FROM toks),
            wins AS (
              SELECT doc_id, u['pos'] AS pos, u['hh'] AS hh
              FROM (SELECT doc_id,
                           unnest(list_transform(range(1, len(h) + 1),
                                  i -> {{'pos': i, 'hh': h[i]}})) AS u
                    FROM sbase)),
            freq AS (SELECT hh FROM wins GROUP BY hh HAVING count(*) >= 2),
            dup AS (
              SELECT w.doc_id, w.pos FROM wins w JOIN freq f ON f.hh = w.hh),
            cov AS (
              SELECT doc_id, count(DISTINCT tpos)::BIGINT AS covered_tokens
              FROM (SELECT doc_id, unnest(range(pos, pos + 30)) AS tpos
                    FROM dup)
              GROUP BY doc_id),
            dc AS (SELECT doc_id, count(*)::BIGINT AS n_dup_windows
                   FROM dup GROUP BY doc_id)
            SELECT b.doc_id, b.n_tokens, len(b.h)::BIGINT AS n_windows,
                   coalesce(dc.n_dup_windows, 0)::BIGINT AS n_dup_windows,
                   coalesce(cov.covered_tokens, 0)::BIGINT AS covered_tokens,
                   round(CASE WHEN b.n_tokens > 0
                         THEN coalesce(cov.covered_tokens, 0) * 1.0
                              / b.n_tokens
                         ELSE 0 END, 6) AS dup_frac
            FROM sbase b
            LEFT JOIN dc ON dc.doc_id = b.doc_id
            LEFT JOIN cov ON cov.doc_id = b.doc_id
        """,
        "web_clean_report": f"""
            WITH RECURSIVE wp_adorn AS (
              SELECT doc_id,
                     concat(coalesce(text, ''),
                       CASE WHEN doc_id % 5 = 0
                            THEN concat(' contact u',
                                        cast(doc_id AS VARCHAR),
                                        '@example.com') ELSE '' END,
                       CASE WHEN doc_id % 3 = 0
                            THEN '. subscribe to our newsletter today'
                            ELSE '' END) AS atext
              FROM documents),
            wp_pages AS (
              SELECT concat('https://d',
                            cast((doc_id % 450) % 10 AS VARCHAR),
                            '.example.com/p/',
                            cast(doc_id % 450 AS VARCHAR),
                            CASE WHEN doc_id % 5 = 1
                                 THEN '?utm_source=x#frag' ELSE '' END)
                       AS url,
                     encode(concat(
                       '<html><head><script>var x = 1;</script>',
                       '</head><body><p>', atext,
                       '</p></body></html>')) AS html
              FROM wp_adorn),
            wp_canon AS (
              SELECT canonical_url, html
              FROM {_canon_from_sql("wp_pages", "html")}),
            wp_s1 AS (
              SELECT canonical_url,
                     arg_min(html, md5(decode(html))) AS html
              FROM wp_canon GROUP BY canonical_url),
            wp_s2 AS (
              SELECT canonical_url, html,
                     {_HTML_EXTRACT_SQL} AS text
              FROM wp_s1),
            wp_s3 AS (
              SELECT canonical_url, text FROM wp_s2
              WHERE {gopher_passes_sql(_TOKS)}),
            wp_s4 AS (
              SELECT canonical_url,
                     {_pii_scrub_expr_sql("text")} AS text
              FROM wp_s3),
            wp_lines AS (
              SELECT canonical_url,
                     u['idx'] AS idx, u['line'] AS line
              FROM (SELECT canonical_url,
                           unnest(list_transform(
                             range(1, len(pieces) + 1),
                             i -> {{'idx': i, 'line': pieces[i]}})) AS u
                    FROM (SELECT canonical_url,
                                 string_split(text, '. ') AS pieces
                          FROM wp_s4))),
            wp_boiler AS (
              SELECT md5(line) AS h FROM wp_lines
              GROUP BY 1 HAVING count(DISTINCT canonical_url) >= 10),
            wp_tagged AS (
              SELECT canonical_url, idx, line,
                     (md5(line) IN (SELECT h FROM wp_boiler)) AS is_b
              FROM wp_lines),
            wp_keptx AS (
              SELECT canonical_url,
                     string_agg(line, '. ' ORDER BY idx) AS ctext
              FROM wp_tagged WHERE NOT is_b GROUP BY canonical_url),
            wp_boilhit AS (
              SELECT canonical_url, max(is_b) AS hit
              FROM wp_tagged GROUP BY canonical_url),
            wp_s5 AS (
              SELECT s.canonical_url,
                     coalesce(k.ctext, '') AS text, b.hit AS boiler_hit
              FROM wp_s4 s
              LEFT JOIN wp_keptx k USING (canonical_url)
              JOIN wp_boilhit b USING (canonical_url)),
            wp_docs AS (
              SELECT canonical_url AS doc_id, text FROM wp_s5),
            {_sqlmode_cte("wp_docs")},
            wp_s6 AS (
              SELECT d.doc_id AS canonical_url, d.text
              FROM wp_docs d LEFT JOIN comp c ON c.node = d.doc_id
              WHERE coalesce(c.cluster_id, d.doc_id) = d.doc_id),
            wp_bgrams AS (
              SELECT DISTINCT unnest(g) AS gram FROM (
                SELECT list_distinct(CASE WHEN len(w) >= 13
                  THEN list_transform(range(1, len(w) - 11),
                       i -> array_to_string(w[i:i+12], ' '))
                  ELSE [] END) AS g
                FROM (SELECT {_TOKS} AS w FROM documents
                      WHERE doc_id % 17 = 0))),
            wp_cgrams AS (
              SELECT canonical_url,
                     list_distinct(CASE WHEN len(w) >= 13
                       THEN list_transform(range(1, len(w) - 11),
                            i -> array_to_string(w[i:i+12], ' '))
                       ELSE [] END) AS g
              FROM (SELECT canonical_url, {_TOKS} AS w FROM wp_s6)),
            wp_contam AS (
              SELECT DISTINCT canonical_url
              FROM (SELECT canonical_url, unnest(g) AS gram FROM wp_cgrams)
              WHERE gram IN (SELECT gram FROM wp_bgrams)),
            wp_s7 AS (
              SELECT canonical_url FROM wp_s6
              WHERE canonical_url NOT IN
                    (SELECT canonical_url FROM wp_contam))
            SELECT 0::BIGINT AS stage_ord, 'input' AS stage,
                   (SELECT count(*) FROM wp_pages)::BIGINT AS n_docs,
                   0::BIGINT AS n_changed
            UNION ALL SELECT 1::BIGINT, 'url_dedupe',
                   (SELECT count(*) FROM wp_s1)::BIGINT,
                   ((SELECT count(*) FROM wp_pages)
                    - (SELECT count(*) FROM wp_s1))::BIGINT
            UNION ALL SELECT 2::BIGINT, 'html_extract',
                   (SELECT count(*) FROM wp_s2)::BIGINT,
                   (SELECT count(*) FROM wp_s2
                    WHERE text != decode(html))::BIGINT
            UNION ALL SELECT 3::BIGINT, 'quality_gate',
                   (SELECT count(*) FROM wp_s3)::BIGINT,
                   ((SELECT count(*) FROM wp_s2)
                    - (SELECT count(*) FROM wp_s3))::BIGINT
            UNION ALL SELECT 4::BIGINT, 'pii_scrub',
                   (SELECT count(*) FROM wp_s4)::BIGINT,
                   (SELECT count(*) FROM wp_s4 j
                    JOIN wp_s3 s USING (canonical_url)
                    WHERE j.text != s.text)::BIGINT
            UNION ALL SELECT 5::BIGINT, 'boilerplate',
                   (SELECT count(*) FROM wp_s5)::BIGINT,
                   (SELECT count(*) FROM wp_s5 WHERE boiler_hit)::BIGINT
            UNION ALL SELECT 6::BIGINT, 'near_dedupe',
                   (SELECT count(*) FROM wp_s6)::BIGINT,
                   ((SELECT count(*) FROM wp_s5)
                    - (SELECT count(*) FROM wp_s6))::BIGINT
            UNION ALL SELECT 7::BIGINT, 'decontaminate',
                   (SELECT count(*) FROM wp_s7)::BIGINT,
                   ((SELECT count(*) FROM wp_s6)
                    - (SELECT count(*) FROM wp_s7))::BIGINT
        """,
        "dedupe_report": f"""
            WITH RECURSIVE {_SQLMODE_CTE},
            resolved AS (
              SELECT d.doc_id,
                     coalesce(c.cluster_id, d.doc_id) AS cluster_id
              FROM documents d LEFT JOIN comp c ON c.node = d.doc_id),
            sizes AS (
              SELECT cluster_id, count(*)::BIGINT AS cluster_size
              FROM resolved GROUP BY cluster_id)
            SELECT cluster_size, count(*)::BIGINT AS n_clusters,
                   (cluster_size * count(*))::BIGINT AS n_docs,
                   ((cluster_size - 1) * count(*))::BIGINT AS n_removed
            FROM sizes GROUP BY cluster_size
        """,
        "ngram_jaccard_adjacent": f"""
            WITH grams AS (
              SELECT doc_id AS a,
                     list_distinct(CASE WHEN len({_TOKS}) >= 5
                       THEN list_transform(range(1, len({_TOKS}) - 3),
                            i -> array_to_string(({_TOKS})[i:i+4], ' '))
                       ELSE [] END) AS g
              FROM documents)
            SELECT l.a AS a, l.a + 1 AS b,
                   round(CASE WHEN len(l.g) + len(r.g) - len(list_intersect(l.g, r.g)) > 0
                         THEN len(list_intersect(l.g, r.g)) * 1.0
                              / (len(l.g) + len(r.g) - len(list_intersect(l.g, r.g)))
                         ELSE 0.0 END, 6) AS jaccard
            FROM grams l JOIN grams r ON r.a = l.a + 1
        """,
        "pages_dedupe": f"""
            WITH RECURSIVE pages_docs AS (
              SELECT concat('https://crawl.example/',
                            lpad(cast(doc_id AS VARCHAR), 12, '0'),
                            '.html') AS doc_id,
                     text
              FROM documents),
            {_sqlmode_cte("pages_docs")}
            SELECT p.doc_id AS url,
                   coalesce(c.cluster_id, p.doc_id) AS cluster_url,
                   (coalesce(c.cluster_id, p.doc_id) = p.doc_id) AS is_kept
            FROM pages_docs p LEFT JOIN comp c ON c.node = p.doc_id
        """,
        "url_canonicalize": f"""
            WITH {_URL_CTE}
            SELECT url, canonical_url FROM url_canon
        """,
        "url_dedupe_kept": f"""
            WITH {_URL_CTE},
            url_keep AS (
              SELECT canonical_url, min(url) AS _keep
              FROM url_canon GROUP BY canonical_url)
            SELECT c.url, c.canonical_url, (c.url = k._keep) AS is_kept
            FROM url_canon c JOIN url_keep k USING (canonical_url)
        """,
        "url_domain_stats": f"""
            WITH {_URL_CTE}
            SELECT regexp_extract(canonical_url, '^[^/]*//([^/?]*)', 1)
                     AS host,
                   count(*) AS n_pages,
                   count(DISTINCT canonical_url) AS n_canonical
            FROM url_canon GROUP BY 1
        """,
        "html_extract_text": f"""
            WITH pg AS (
              SELECT {_PAGE_URL_SQL} AS url,
                     encode(concat(
                       '<html><head><script>var x = "</div>";</script>',
                       '<style>p{{color:red}}</style></head><body>',
                       '<!-- generated --><p>',
                       coalesce(text, ''),
                       '</p><br>&amp;copy; &lt;end&gt;&nbsp;',
                       '&#39;fin&#39;</body></html>')) AS html
              FROM documents)
            SELECT url,
                   {_HTML_EXTRACT_SQL} AS extracted_text,
                   length({_HTML_EXTRACT_SQL})::BIGINT AS n_chars
            FROM pg
        """,
        "pii_scrub": f"""
            WITH pii_docs AS (
              SELECT doc_id, concat(coalesce(text, ''),
                CASE WHEN doc_id % 5 = 0
                     THEN concat(' contact u', cast(doc_id AS VARCHAR),
                                 '@example.com') ELSE '' END,
                CASE WHEN doc_id % 7 = 0
                     THEN concat(' from 10.0.',
                                 cast(doc_id % 256 AS VARCHAR), '.1')
                     ELSE '' END,
                CASE WHEN doc_id % 11 = 0
                     THEN ' call 555-867-5309' ELSE '' END) AS text
              FROM documents)
            {_PII_SCRUB_SQL} FROM pii_docs
        """,
        "domain_cap_sample": f"""
            WITH u AS (
              SELECT concat('https://d',
                       CASE WHEN doc_id % 2 = 0 THEN '0'
                            ELSE cast(doc_id % 10 AS VARCHAR) END,
                       '.example.com/p/', cast(doc_id AS VARCHAR)) AS url
              FROM documents),
            rows_ AS (
              SELECT url,
                     lower(regexp_extract(url, '^[^/]*//([^/?]*)', 1)) AS host
              FROM u),
            hot AS (
              SELECT host, count(*) AS n_pages
              FROM rows_ GROUP BY host HAVING count(*) > 60)
            SELECT r.url, r.host,
                   CASE WHEN h.n_pages IS NULL THEN TRUE
                        ELSE ({_h60_sql("r.url")}
                              % ((h.n_pages + 59) // 60)) = 0
                   END AS is_kept
            FROM rows_ r LEFT JOIN hot h USING (host)
        """,
        "hash_split": f"""
            WITH u AS (
              SELECT concat('https://d',
                       CASE WHEN doc_id % 2 = 0 THEN '0'
                            ELSE cast(doc_id % 10 AS VARCHAR) END,
                       '.example.com/p/', cast(doc_id AS VARCHAR)) AS url
              FROM documents)
            SELECT url,
                   CASE WHEN ({_h60_sql("url")} % 100) < 98 THEN 'train'
                        WHEN ({_h60_sql("url")} % 100) < 99 THEN 'val'
                        ELSE 'test' END AS split
            FROM u
        """,
        "crawl_delta": f"""
            WITH docs0 AS (
              SELECT doc_id, coalesce(text, '') AS text,
                     {_PAGE_URL_SQL} AS url
              FROM documents),
            old_raw AS (SELECT url, text FROM docs0),
            new_raw AS (
              SELECT CASE WHEN doc_id % 5 = 1
                          THEN concat(url, '?utm_source=x#frag')
                          ELSE url END AS url,
                     CASE WHEN doc_id % 3 = 0
                          THEN concat(text, ' updated')
                          ELSE text END AS text
              FROM docs0 WHERE NOT (doc_id % 7 = 3)
              UNION ALL
              SELECT concat(url, '-new'),
                     concat('fresh ', cast(doc_id AS VARCHAR))
              FROM docs0 WHERE doc_id % 11 = 0),
            old_c AS (
              SELECT canonical_url, min(md5(text)) AS fp_old
              FROM {_canon_from_sql("old_raw")} GROUP BY 1),
            new_c AS (
              SELECT canonical_url, min(md5(text)) AS fp_new
              FROM {_canon_from_sql("new_raw")} GROUP BY 1)
            SELECT coalesce(o.canonical_url, n.canonical_url)
                     AS canonical_url,
                   CASE WHEN o.canonical_url IS NULL THEN 'added'
                        WHEN n.canonical_url IS NULL THEN 'removed'
                        WHEN o.fp_old != n.fp_new THEN 'changed'
                        ELSE 'unchanged' END AS status
            FROM old_c o FULL OUTER JOIN new_c n
              ON o.canonical_url = n.canonical_url
        """,
        "pages_dedupe_first_seen": f"""
            WITH RECURSIVE pages_docs AS (
              SELECT concat('https://crawl.example/',
                            lpad(cast(doc_id AS VARCHAR), 12, '0'),
                            '.html') AS doc_id,
                     text,
                     1704067200 + (doc_id * 7919) % 100000 AS ts
              FROM documents),
            {_sqlmode_cte("pages_docs")},
            pg_memb AS (
              SELECT p.doc_id AS url, p.ts,
                     coalesce(c.cluster_id, p.doc_id) AS cid
              FROM pages_docs p LEFT JOIN comp c ON c.node = p.doc_id),
            pg_first AS (SELECT cid, min(ts) AS mts FROM pg_memb GROUP BY cid),
            pg_rep AS (
              SELECT m.cid, min(m.url) AS cluster_url
              FROM pg_memb m JOIN pg_first f
                ON f.cid = m.cid AND m.ts = f.mts
              GROUP BY m.cid)
            SELECT m.url, r.cluster_url, (m.url = r.cluster_url) AS is_kept
            FROM pg_memb m JOIN pg_rep r ON r.cid = m.cid
        """,
        "er_records": f"""
            WITH RECURSIVE {_ER_CTE}
            SELECT rec_id, name, phone, nation, segment, bal FROM er_recs
        """,
        "er_candidate_pairs": f"""
            WITH RECURSIVE {_ER_CTE}
            SELECT a, b FROM er_cand
        """,
        "er_matches": f"""
            WITH RECURSIVE {_ER_CTE}
            SELECT a, b, jw, score FROM er_matches
        """,
        "er_clusters": f"""
            WITH RECURSIVE {_ER_CTE}
            SELECT rec_id, cluster_id FROM er_clusters
        """,
        "er_golden_records": f"""
            WITH RECURSIVE {_ER_CTE},
            er_agg AS (
              SELECT cluster_id, count(*) AS n_members, min(rec_id) AS rep_id
              FROM er_clusters GROUP BY cluster_id),
            er_bal AS (
              SELECT c.cluster_id, round(max(r.bal), 2) AS max_bal
              FROM er_clusters c JOIN er_recs r ON r.rec_id = c.rec_id
              GROUP BY c.cluster_id)
            SELECT a.cluster_id, a.rep_id, a.n_members,
                   r.name AS rep_name, r.phone AS rep_phone,
                   r.segment AS rep_segment, b.max_bal
            FROM er_agg a
            JOIN er_recs r ON r.rec_id = a.rep_id
            JOIN er_bal b ON b.cluster_id = a.cluster_id
        """,
        "jaro_winkler_adjacent": """
            WITH p AS (
              SELECT doc_id AS a, substr(coalesce(text, ''), 1, 64) AS s
              FROM documents)
            SELECT l.a AS a, l.a + 1 AS b,
                   round(jaro_winkler_similarity(l.s, r.s), 6) AS jw
            FROM p l JOIN p r ON r.a = l.a + 1
        """,
        # r5b: sorted-neighborhood oracles — the definitional formulation
        # (one global row_number + rank-distance self-join). The Spark
        # side must produce the same pair set from its distributed
        # rank + bucket-equi-join plan, so hash-green here verifies the
        # two-phase rank AND the adjacent-bucket pairing at once. w = 8
        # (operators/entity_resolution.DEFAULT_SN_WINDOW), threshold and
        # score blend identical to the er_matches oracle.
        "er_sn_pairs": f"""
            WITH RECURSIVE {_ER_CTE},
            sn_ranked AS (
              SELECT rec_id, row_number() OVER (ORDER BY name, rec_id) AS rnk
              FROM er_recs)
            SELECT least(l.rec_id, r.rec_id) AS a,
                   greatest(l.rec_id, r.rec_id) AS b
            FROM sn_ranked l JOIN sn_ranked r
              ON r.rnk > l.rnk AND r.rnk - l.rnk < 8
        """,
        "er_sn_matches": f"""
            WITH RECURSIVE {_ER_CTE},
            sn_ranked AS (
              SELECT rec_id, row_number() OVER (ORDER BY name, rec_id) AS rnk
              FROM er_recs),
            sn_cand AS (
              SELECT least(l.rec_id, r.rec_id) AS a,
                     greatest(l.rec_id, r.rec_id) AS b
              FROM sn_ranked l JOIN sn_ranked r
                ON r.rnk > l.rnk AND r.rnk - l.rnk < 8),
            sn_scored AS (
              SELECT p.a, p.b,
                     round(jaro_winkler_similarity(la.name, rb.name), 6) AS jw,
                     round(round(jaro_winkler_similarity(la.name, rb.name), 6) * 0.8
                           + (CASE WHEN la.phone = rb.phone THEN 1.0 ELSE 0.0 END) * 0.1
                           + (CASE WHEN la.nation = rb.nation THEN 1.0 ELSE 0.0 END) * 0.1,
                           6) AS score
              FROM sn_cand p
              JOIN er_recs la ON la.rec_id = p.a
              JOIN er_recs rb ON rb.rec_id = p.b)
            SELECT a, b, jw, score FROM sn_scored WHERE score >= 0.85
        """,
        "er_matches_combined": f"""
            WITH RECURSIVE {_ER_CTE},
            sn_ranked AS (
              SELECT rec_id, row_number() OVER (ORDER BY name, rec_id) AS rnk
              FROM er_recs),
            comb_cand AS (
              -- explicit DISTINCT over UNION ALL: inside a WITH RECURSIVE
              -- block DuckDB processed a bare UNION here as UNION ALL,
              -- double-scoring shared pairs
              SELECT DISTINCT a, b FROM (
                SELECT a, b FROM er_cand
                UNION ALL
                SELECT least(l.rec_id, r.rec_id) AS a,
                       greatest(l.rec_id, r.rec_id) AS b
                FROM sn_ranked l JOIN sn_ranked r
                  ON r.rnk > l.rnk AND r.rnk - l.rnk < 8)),
            comb_scored AS (
              SELECT p.a, p.b,
                     round(jaro_winkler_similarity(la.name, rb.name), 6) AS jw,
                     round(round(jaro_winkler_similarity(la.name, rb.name), 6) * 0.8
                           + (CASE WHEN la.phone = rb.phone THEN 1.0 ELSE 0.0 END) * 0.1
                           + (CASE WHEN la.nation = rb.nation THEN 1.0 ELSE 0.0 END) * 0.1,
                           6) AS score
              FROM comb_cand p
              JOIN er_recs la ON la.rec_id = p.a
              JOIN er_recs rb ON rb.rec_id = p.b)
            SELECT a, b, jw, score FROM comb_scored WHERE score >= 0.85
        """,
        "er_blocking_report": f"""
            WITH RECURSIVE {_ER_CTE},
            sn_ranked AS (
              SELECT rec_id, row_number() OVER (ORDER BY name, rec_id) AS rnk
              FROM er_recs),
            sn_cand AS (
              SELECT least(l.rec_id, r.rec_id) AS a,
                     greatest(l.rec_id, r.rec_id) AS b
              FROM sn_ranked l JOIN sn_ranked r
                ON r.rnk > l.rnk AND r.rnk - l.rnk < 8),
            truth AS (
              SELECT l.rec_id AS a, r.rec_id AS b
              FROM er_recs l JOIN er_recs r
                ON l.entity_id = r.entity_id AND l.rec_id < r.rec_id),
            nn AS (SELECT count(*) AS n FROM er_recs),
            nt AS (SELECT count(*) AS n_truth FROM truth)
            SELECT 'key' AS strategy,
                   (SELECT count(*) FROM er_cand) AS n_candidates,
                   round((SELECT count(*) FROM er_cand c
                          JOIN truth t ON t.a = c.a AND t.b = c.b)
                         * 1.0 / nt.n_truth, 6) AS pairs_completeness,
                   round(1.0 - (SELECT count(*) FROM er_cand)
                         / (nn.n * (nn.n - 1) / 2.0), 6) AS reduction_ratio
            FROM nn, nt
            UNION ALL
            SELECT 'sorted_neighborhood' AS strategy,
                   (SELECT count(*) FROM sn_cand) AS n_candidates,
                   round((SELECT count(*) FROM sn_cand c
                          JOIN truth t ON t.a = c.a AND t.b = c.b)
                         * 1.0 / nt.n_truth, 6) AS pairs_completeness,
                   round(1.0 - (SELECT count(*) FROM sn_cand)
                         / (nn.n * (nn.n - 1) / 2.0), 6) AS reduction_ratio
            FROM nn, nt
        """,
        # r5b: edit distance — both engines run the classic Levenshtein
        # DP built-in over the SAME ASCII projection (Spark counts
        # codepoints, DuckDB counts UTF-8 bytes; dropping non-ASCII on
        # both sides makes the units coincide — see the operator
        # docstring); 'g' flag = replace-all, matching Spark's default
        "edit_distance_adjacent": """
            WITH p AS (
              SELECT doc_id AS a,
                     substr(regexp_replace(coalesce(text, ''),
                            '[^\\x00-\\x7F]', '', 'g'), 1, 64) AS s
              FROM documents)
            SELECT l.a AS a, l.a + 1 AS b,
                   levenshtein(l.s, r.s) AS lev,
                   round(1.0 - levenshtein(l.s, r.s)
                         / greatest(length(l.s), length(r.s), 1), 6) AS lev_sim
            FROM p l JOIN p r ON r.a = l.a + 1
        """,
        # r5b: asymmetric containment — same gram-set algebra as the
        # jaccard oracle, divided by each side's own set size
        "ngram_containment_adjacent": f"""
            WITH grams AS (
              SELECT doc_id AS a,
                     list_distinct(CASE WHEN len({_TOKS}) >= 5
                       THEN list_transform(range(1, len({_TOKS}) - 3),
                            i -> array_to_string(({_TOKS})[i:i+4], ' '))
                       ELSE [] END) AS g
              FROM documents)
            SELECT l.a AS a, l.a + 1 AS b,
                   round(CASE WHEN len(l.g) > 0
                         THEN len(list_intersect(l.g, r.g)) * 1.0 / len(l.g)
                         ELSE 0.0 END, 6) AS c_ab,
                   round(CASE WHEN len(r.g) > 0
                         THEN len(list_intersect(l.g, r.g)) * 1.0 / len(r.g)
                         ELSE 0.0 END, 6) AS c_ba
            FROM grams l JOIN grams r ON r.a = l.a + 1
        """,
        # r5b: token-sort JW — sorted first-12-token keys, then the same
        # jaro_winkler_similarity both engines already agree on; text
        # coalesced to '' BEFORE tokenizing (module NULL contract)
        "token_sort_jw_adjacent": f"""
            WITH d AS (
              SELECT doc_id, coalesce(text, '') AS text FROM documents),
            p AS (
              SELECT doc_id AS a,
                     array_to_string(list_sort(({_TOKS})[1:12]), ' ') AS s
              FROM d)
            SELECT l.a AS a, l.a + 1 AS b,
                   round(jaro_winkler_similarity(l.s, r.s), 6) AS ts_jw
            FROM p l JOIN p r ON r.a = l.a + 1
        """,
        # r5b: bigram-LM fluency — replays bigram/context counts, the
        # corpus vocabulary size, and the Laplace-smoothed mean log-prob
        "lm_fluency": f"""
            WITH toks AS (SELECT doc_id, {_TOKS} AS ws FROM documents),
            tp AS (
              SELECT doc_id, unnest(ws) AS tok,
                     generate_subscripts(ws, 1) AS i
              FROM toks),
            bi AS (
              SELECT a.doc_id, a.tok AS w1, b.tok AS w2
              FROM tp a JOIN tp b
                ON b.doc_id = a.doc_id AND b.i = a.i + 1),
            bc AS (SELECT w1, w2, count(*) AS c_bi FROM bi GROUP BY w1, w2),
            cx AS (SELECT w1, sum(c_bi) AS c_ctx FROM bc GROUP BY w1),
            vv AS (SELECT count(DISTINCT tok) AS v
                   FROM (SELECT unnest({_TOKS}) AS tok FROM documents))
            SELECT bi.doc_id,
                   count(*) AS n_bigrams,
                   round(avg(ln((c_bi + 1.0) / (c_ctx + v))), 6) AS avg_logprob
            FROM bi
            JOIN bc USING (w1, w2)
            JOIN cx USING (w1)
            CROSS JOIN vv
            GROUP BY bi.doc_id
        """,
        # r5b: TF-IDF cosine — replays tf / smoothed idf / norms / dot
        # over the shared analytics tokenizer; inner joins mirror the
        # Spark side's "pairs sharing ≥1 term" semantics
        "tfidf_cosine_adjacent": f"""
            WITH toks AS (
              SELECT doc_id, unnest({_TOKS}) AS tok FROM documents),
            tf AS (
              SELECT doc_id, tok, count(*) AS tf
              FROM toks GROUP BY doc_id, tok),
            dfreq AS (SELECT tok, count(*) AS df FROM tf GROUP BY tok),
            n AS (SELECT count(*) AS n_docs FROM documents),
            wt AS (
              SELECT doc_id, tok,
                     tf * (ln((n_docs + 1.0) / (df + 1.0)) + 1.0) AS w
              FROM tf JOIN dfreq USING (tok) CROSS JOIN n),
            nrm AS (SELECT doc_id, sqrt(sum(w * w)) AS nrm
                    FROM wt GROUP BY doc_id),
            dot AS (
              SELECT l.doc_id AS a, sum(l.w * r.w) AS dot
              FROM wt l JOIN wt r
                ON r.doc_id = l.doc_id + 1 AND r.tok = l.tok
              GROUP BY l.doc_id)
            SELECT d.a, d.a + 1 AS b,
                   round(d.dot / (na.nrm * nb.nrm), 6) AS tfidf_cosine
            FROM dot d
            JOIN nrm na ON na.doc_id = d.a
            JOIN nrm nb ON nb.doc_id = d.a + 1
        """,
        "simhash_sql": f"""
            WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
            th AS (
              SELECT doc_id, CAST(('0x' || substr(md5(tok), 1, 15)) AS BIGINT) AS h
              FROM (SELECT doc_id, unnest(t) AS tok FROM toks)),
            votes AS (
              SELECT doc_id, b,
                     SUM(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) AS v
              FROM th, range(0, 60) r(b) GROUP BY doc_id, b),
            fp AS (
              SELECT doc_id,
                     CAST(SUM(CASE WHEN v > 0 THEN (CAST(1 AS BIGINT) << b)
                              ELSE 0 END) AS BIGINT) AS simhash
              FROM votes GROUP BY doc_id)
            SELECT d.doc_id, coalesce(f.simhash, 0) AS simhash
            FROM documents d LEFT JOIN fp f ON f.doc_id = d.doc_id
        """,
        "simhash_sql_pairs": f"""
            WITH {_DENSE_CTE},
            toks AS (SELECT doc_id, {_TOKS} AS t FROM documents_dense),
            th AS (
              SELECT doc_id, CAST(('0x' || substr(md5(tok), 1, 15)) AS BIGINT) AS h
              FROM (SELECT doc_id, unnest(t) AS tok FROM toks)),
            votes AS (
              SELECT doc_id, b,
                     SUM(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) AS v
              FROM th, range(0, 60) r(b) GROUP BY doc_id, b),
            fp0 AS (
              SELECT doc_id,
                     CAST(SUM(CASE WHEN v > 0 THEN (CAST(1 AS BIGINT) << b)
                              ELSE 0 END) AS BIGINT) AS simhash
              FROM votes GROUP BY doc_id),
            fp AS (
              SELECT d.doc_id, coalesce(f.simhash, 0) AS simhash
              FROM documents_dense d LEFT JOIN fp0 f ON f.doc_id = d.doc_id),
            bands AS (
              SELECT doc_id, b AS band_id, (simhash >> (15 * b)) & 32767 AS band_key
              FROM fp, range(0, 4) r(b)),
            cand AS (
              SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
              FROM bands l JOIN bands r
                ON l.band_id = r.band_id AND l.band_key = r.band_key
                   AND l.doc_id < r.doc_id)
            SELECT c.a, c.b, bit_count(xor(fa.simhash, fb.simhash)) AS hamming
            FROM cand c
            JOIN fp fa ON fa.doc_id = c.a JOIN fp fb ON fb.doc_id = c.b
            WHERE bit_count(xor(fa.simhash, fb.simhash)) <= 3
        """,
        "ann_topk": """
            WITH scored AS (
              SELECT q.vec_id AS query_id, b.vec_id AS neighbor_id,
                     -- cast to DOUBLE[]: DuckDB keeps FLOAT[] math in float32,
                     -- Spark computes in double; low-bit drift breaks the
                     -- driver value-hash even though round(.,6) looks equal
                     round(list_cosine_similarity(
                         q.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) AS cosine
              FROM embeddings q JOIN embeddings b ON b.vec_id != q.vec_id
              WHERE q.vec_id < 20)
            SELECT query_id, neighbor_id, cosine, rank FROM (
              SELECT *, row_number() OVER (PARTITION BY query_id
                        ORDER BY cosine DESC, neighbor_id) AS rank
              FROM scored)
            WHERE rank <= 5
        """,
        "embedding_dupe_pairs": """
            WITH base AS (
              SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
            aug AS (
              SELECT vec_id, v FROM base
              UNION ALL
              SELECT vec_id + 1000000 AS vec_id,
                     list_transform(range(0, len(v)),
                       i -> v[i + 1] + 0.05 * v[((i + 1) % len(v)) + 1]) AS v
              FROM base WHERE vec_id % 5 = 0)
            SELECT a, b, cosine FROM (
              SELECT x.vec_id AS a, y.vec_id AS b,
                     round(list_cosine_similarity(x.v, y.v), 6) AS cosine
              FROM aug x JOIN aug y ON x.vec_id < y.vec_id)
            WHERE cosine >= 0.95
        """,
        "semantic_dedupe": """
            WITH RECURSIVE base AS (
              SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
            aug AS (
              SELECT vec_id, v FROM base
              UNION ALL
              SELECT vec_id + 1000000 AS vec_id,
                     list_transform(range(0, len(v)),
                       i -> v[i + 1] + 0.05 * v[((i + 1) % len(v)) + 1]) AS v
              FROM base WHERE vec_id % 5 = 0),
            pairs AS (
              SELECT a, b FROM (
                SELECT x.vec_id AS a, y.vec_id AS b,
                       round(list_cosine_similarity(x.v, y.v), 6) AS cosine
                FROM aug x JOIN aug y ON x.vec_id < y.vec_id)
              WHERE cosine >= 0.95),
            sym AS (
              SELECT a, b FROM pairs UNION SELECT b AS a, a AS b FROM pairs),
            reach(node, r) AS (
              SELECT a AS node, a AS r FROM sym
              UNION
              SELECT e.b AS node, reach.r FROM reach JOIN sym e ON e.a = reach.node),
            comp AS (SELECT node, min(r) AS cluster_id FROM reach GROUP BY node)
            SELECT i.vec_id,
                   coalesce(c.cluster_id, i.vec_id) AS cluster_id,
                   (coalesce(c.cluster_id, i.vec_id) = i.vec_id) AS is_kept
            FROM aug i LEFT JOIN comp c ON c.node = i.vec_id
        """,
        "binary_features": """
            SELECT doc_id,
                   octet_length(encode(coalesce(text, ''))) AS n_bytes,
                   md5(coalesce(text, '')) AS md5_hex
            FROM documents
        """,
        "frame_offsets": """
            WITH f AS (
              SELECT doc_id,
                     octet_length(encode(coalesce(text, ''))) // 256 AS n_avail
              FROM documents),
            k AS (SELECT doc_id, n_avail, least(8, n_avail) AS kk
                  FROM f WHERE n_avail > 0)
            SELECT doc_id, i AS frame_idx,
                   (i * n_avail // kk) * 256 + 1 AS frame_offset,
                   CAST(256 AS BIGINT) AS frame_len
            FROM k, range(0, 8) r(i) WHERE i < k.kk
        """,
    }
