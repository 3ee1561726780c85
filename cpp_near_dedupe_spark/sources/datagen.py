"""Deterministic synthetic Common-Crawl-style `pages` corpus (FIXTURES.md §1).

The reference ships no test data (`/root/reference/README.md:16` — tests are
an open TODO), so correctness fixtures are synthesized from scratch with a
fixed seed: a labeled mix of uniques, exact dupes, near-dupes, threshold-
boundary pairs, a transitive chain, a hot-band boilerplate cluster, and the
reference-semantics edge cases. Schema matches the target input table:
``(url string, warc_ts timestamp, html binary, text string, lang string)``.

Ground-truth pair labels are NOT stored — tests derive them by running the
pure-Python oracle (functions/sketch.py) so labels can never drift from the
contract. ``group_id``/``kind`` columns are generation metadata retained for
debugging and are dropped by ``pages_schema`` consumers.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

_SYLLABLES = [
    "ba", "be", "bi", "bo", "bu", "da", "de", "di", "do", "du", "ka", "ke",
    "ki", "ko", "ku", "la", "le", "li", "lo", "lu", "ma", "me", "mi", "mo",
    "mu", "na", "ne", "ni", "no", "nu", "ra", "re", "ri", "ro", "ru", "sa",
    "se", "si", "so", "su", "ta", "te", "ti", "to", "tu", "va", "ve", "vi",
    "vo", "vu", "za", "ze", "zi", "zo", "zu",
]


def _make_vocab(rng: np.random.Generator, size: int = 5000) -> np.ndarray:
    syl = np.array(_SYLLABLES)
    words = set()
    while len(words) < size:
        n = rng.integers(2, 5)
        words.add("".join(rng.choice(syl, size=n)))
    return np.array(sorted(words))


def _zipf_sampler(rng: np.random.Generator, vocab_size: int, s: float = 1.1):
    ranks = np.arange(1, vocab_size + 1, dtype=np.float64)
    p = 1.0 / ranks**s
    cum = np.cumsum(p / p.sum())

    def sample(n: int) -> np.ndarray:
        return np.searchsorted(cum, rng.random(n))

    return sample


def generate_pages(n_docs: int = 5000, seed: int = 42) -> pd.DataFrame:
    """Deterministic labeled corpus; columns (url, warc_ts, html, text,
    lang, group_id, kind)."""
    rng = np.random.default_rng(seed)
    vocab = _make_vocab(rng)
    sample = _zipf_sampler(rng, vocab.size)

    texts: list[str | None] = []
    kinds: list[str] = []
    groups: list[int] = []
    gid = 0

    def base_doc() -> np.ndarray:
        return sample(int(rng.integers(300, 2000)))

    def words_to_text(idx: np.ndarray) -> str:
        return " ".join(vocab[idx])

    def perturb(idx: np.ndarray, frac: float) -> np.ndarray:
        out = idx.copy()
        m = max(1, int(len(out) * frac))
        pos = rng.choice(len(out), size=min(m, len(out)), replace=False)
        out[pos] = sample(pos.size)
        return out

    def add(text: str | None, kind: str, group: int) -> None:
        texts.append(text)
        kinds.append(kind)
        groups.append(group)

    # --- hot-band boilerplate cluster: 5% ------------------------------
    n_hot = max(0, int(n_docs * 0.05))
    if n_hot:
        template = sample(400)
        gid += 1
        for _ in range(n_hot):
            tail = sample(int(rng.integers(20, 100)))
            add(words_to_text(np.concatenate([template, tail])), "hot_band", gid)

    # --- transitive chains: 5% (triples A~B~C, A!~C) -------------------
    n_chain = max(0, int(n_docs * 0.05)) // 3
    for _ in range(n_chain):
        gid += 1
        a = base_doc()
        b = perturb(a, 0.12)
        c = perturb(b, 0.12)
        add(words_to_text(a), "chain", gid)
        add(words_to_text(b), "chain", gid)
        add(words_to_text(c), "chain", gid)

    # --- exact dupes: 10% ---------------------------------------------
    n_exact = int(n_docs * 0.10)
    while n_exact > 0:
        gid += 1
        copies = int(rng.integers(2, 6))
        copies = min(copies, n_exact) if n_exact >= 2 else 2
        t = words_to_text(base_doc())
        for _ in range(copies):
            add(t, "exact", gid)
        n_exact -= copies

    # --- near dupes (high sim): 15% ------------------------------------
    n_near = int(n_docs * 0.15)
    while n_near > 0:
        gid += 1
        copies = min(int(rng.integers(2, 4)), max(2, n_near))
        base = base_doc()
        add(words_to_text(base), "near", gid)
        for _ in range(copies - 1):
            add(words_to_text(perturb(base, float(rng.uniform(0.01, 0.05)))), "near", gid)
        n_near -= copies

    # --- threshold-boundary pairs: 5% ----------------------------------
    n_bound = int(n_docs * 0.05)
    while n_bound > 0:
        gid += 1
        base = base_doc()
        add(words_to_text(base), "boundary", gid)
        add(words_to_text(perturb(base, float(rng.uniform(0.07, 0.12)))), "boundary", gid)
        n_bound -= 2

    # --- edge cases (fixed, one each; ~constant count) ------------------
    edge_cases = [
        "", None, "   ...,,,!!!   \t\n", "uno", "one two three four",
        "one two three four five", "one two three four five six",
        " ".join(vocab[sample(50)]) if False else words_to_text(sample(50)),
        "repeat " * 300,
        "emoji 💩 mixed 🚀 into a near dup pair of documents with more words here",
        "emoji 💩 mixed 🚀 into a near dup pair of documents with more words there",
        "héllo wörld çafé naïve straße über älter müde grüße",
        "русский текст на кириллице с многими словами для проверки",
        "日本語のテキスト これはテスト 中文也在这里 更多词汇 测试内容",
        "foo-bar_baz 123 mix3d t0kens under_score dash-sep plus more words",
    ]
    for t in edge_cases:
        gid += 1
        add(t, "edge", gid)
    # identical text under two urls
    gid += 1
    same = words_to_text(base_doc())
    add(same, "edge_same_text", gid)
    add(same, "edge_same_text", gid)

    # --- uniques: fill the rest -----------------------------------------
    while len(texts) < n_docs:
        gid += 1
        add(words_to_text(base_doc()), "unique", gid)
    texts, kinds, groups = texts[:n_docs], kinds[:n_docs], groups[:n_docs]

    # shuffle rows so arrival order is not grouped
    order = rng.permutation(len(texts))
    texts = [texts[i] for i in order]
    kinds = [kinds[i] for i in order]
    groups = [groups[i] for i in order]

    cats = np.array(["news", "blog", "shop", "wiki", "forum"])
    urls = [
        f"https://site{i % 997}.example/{cats[i % len(cats)]}/{seed}-{i:08d}"
        for i in range(len(texts))
    ]
    ts0 = np.datetime64("2024-01-01T00:00:00")
    deltas = rng.integers(0, 3600, size=len(texts)).cumsum()
    warc_ts = ts0 + deltas.astype("timedelta64[s]")
    lang = rng.choice(["en", "de", "zz"], p=[0.95, 0.03, 0.02], size=len(texts))
    html = [
        (b"<html><body>" + (t or "").encode("utf-8") + b"</body></html>")
        for t in texts
    ]
    return pd.DataFrame(
        {
            "url": urls,
            "warc_ts": warc_ts,
            "html": html,
            "text": texts,
            "lang": lang,
            "group_id": np.array(groups, dtype=np.int64),
            "kind": kinds,
        }
    )


PAGES_SCHEMA = "url string, warc_ts timestamp, html binary, text string, lang string"
