"""Crawl-to-clean-corpus composition (plans/web_pipeline.py)."""

from pyspark.sql import functions as F

GOOD = (
    "the quick brown fox jumps over the lazy dog and then runs back to "
    "the barn where it can have a long rest with all of its friends "
    "because that is what foxes like to do when they have some spare "
    "time on their paws and nothing else going on in the forest today"
)


def _page(url, body):
    return (url, f"<html><body><p>{body}</p></body></html>".encode())


def _pages(spark, rows):
    return spark.createDataFrame(rows, "url string, html binary")


def _stages(spark, pages, bench=None, **kw):
    from cpp_near_dedupe_spark.plans.web_pipeline import clean_corpus_stages

    return clean_corpus_stages(spark, pages, bench, **kw)


def test_url_dedupe_and_tracking_params(spark):
    rows = [
        _page("https://a.example.com/x?utm_source=t", GOOD + " one"),
        _page("https://a.example.com/x", GOOD + " two"),
        _page("https://b.example.com/y", GOOD + " three"),
    ]
    st = _stages(spark, _pages(spark, rows))
    s1 = st["url_dedupe"].collect()
    assert len(s1) == 2  # tracking param stripped -> same crawl identity
    urls = sorted(r["canonical_url"] for r in s1)
    assert urls == ["https://a.example.com/x", "https://b.example.com/y"]


def test_quality_gate_and_extraction(spark):
    rows = [
        _page("https://a.example.com/long", GOOD),
        _page("https://a.example.com/short", "too few words here"),
    ]
    st = _stages(spark, _pages(spark, rows))
    kept = [r["canonical_url"] for r in st["quality_gate"].collect()]
    assert kept == ["https://a.example.com/long"]
    ext = {
        r["canonical_url"]: r["text"] for r in st["html_extract"].collect()
    }
    assert ext["https://a.example.com/long"] == GOOD  # tags gone, trimmed


def test_pii_and_boilerplate_and_near_dedupe(spark):
    import random

    chrome = "subscribe to our newsletter today"
    # three genuinely different 60-word docs (deterministic shuffles of a
    # 120-word vocabulary -> pairwise shingle overlap ~0)
    vocab = [f"tok{i}" for i in range(120)]
    rng = random.Random(3)
    bases = []
    for _ in range(3):
        w = vocab[:]
        rng.shuffle(w)
        bases.append("the be to of and that have with " + " ".join(w[:60]))
    rows = [
        _page(f"https://s{i}.example.com/p", f"{bases[i]}. {chrome}")
        for i in range(3)
    ] + [
        _page(
            "https://m.example.com/mail",
            f"{GOOD} mail me at a@b.io. {chrome}",
        ),
        # exact content copy of s0 under a different url -> near-dup
        _page("https://copy.example.com/p", f"{bases[0]}. {chrome}"),
    ]
    st = _stages(spark, _pages(spark, rows), boiler_min_docs=3)
    s5 = {r["canonical_url"]: r for r in st["boilerplate"].collect()}
    # chrome sentence occurs in 5 >= 3 docs -> stripped everywhere
    assert all(chrome not in r["text"] for r in s5.values())
    assert all(r["_boiler_hit"] for r in s5.values())
    assert "<EMAIL>" in s5["https://m.example.com/mail"]["text"]
    kept = sorted(r["canonical_url"] for r in st["near_dedupe"].collect())
    # the copy collapses onto the lexicographic-min url of its cluster
    assert "https://s0.example.com/p" not in kept  # 'copy...' < 's0...'
    assert "https://copy.example.com/p" in kept
    assert len(kept) == 4


def test_decontaminate_and_report(spark):
    from cpp_near_dedupe_spark.plans.web_pipeline import clean_corpus_report

    clean_text = (
        "the be to of and that have with " + " ".join(
            f"item{i} piece{i}" for i in range(30)
        )
    )
    rows = [
        _page("https://a.example.com/contaminated", GOOD),
        _page("https://a.example.com/clean", clean_text),
    ]
    bench = spark.createDataFrame([(GOOD,)], "text string")
    st = _stages(spark, _pages(spark, rows), bench)
    kept = [r["canonical_url"] for r in st["decontaminate"].collect()]
    assert kept == ["https://a.example.com/clean"]

    rep = clean_corpus_report(
        spark, _pages(spark, rows), bench
    ).toPandas().sort_values("stage_ord")
    assert list(rep["stage"]) == [
        "input", "url_dedupe", "html_extract", "quality_gate",
        "pii_scrub", "boilerplate", "near_dedupe", "decontaminate",
    ]
    assert list(rep["n_docs"]) == [2, 2, 2, 2, 2, 2, 2, 1]
    assert rep[rep.stage == "decontaminate"]["n_changed"].iloc[0] == 1


def test_clean_corpus_final_schema(spark):
    from cpp_near_dedupe_spark.plans.web_pipeline import clean_corpus

    rows = [_page("https://a.example.com/x", GOOD)]
    out = clean_corpus(spark, _pages(spark, rows))
    assert out.columns == ["canonical_url", "text"]
    assert out.count() == 1


def test_pii_scrub_evaluated_once(spark):
    """The persisted s4 stage derives both ``text`` and ``_pii_hit`` from
    one scrub: each scrub pattern appears once in its optimized plan (the
    outer projection must not re-inline the scrub expression)."""
    from cpp_near_dedupe_spark.cache import release_all
    from cpp_near_dedupe_spark.operators.pii import _PASSES

    try:
        st = _stages(spark, _pages(spark, [_page("https://a.example.com/x", GOOD)]))
        cached = st["pii_scrub"]._jdf.queryExecution().optimizedPlan()
        plan = cached.cacheBuilder().logicalPlan().toString()
        assert [plan.count(token) for _, token, _ in _PASSES] == [1, 1, 1]
    finally:
        release_all()
