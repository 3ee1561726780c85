"""SQL-expressible near-dedupe mode: the md5 hash family's stage functions.

The parity sketch (XXH64 over the reference tokenizer's UTF-16 bytes,
`/root/reference/CPPDeduper/Shingler64.hpp:126-243`) is deliberately not
SQL-expressible, so the driver can only rows-check that chain. This module
supplies the sketch, band and score stages of the IDENTICAL pipeline
topology — tokenize → k-shingle → hash → distinct → bottom-N → band split
→ band-key equi-join → pair distinct → set-Jaccard → threshold → connected
components → keep-min resolve (SURVEY.md §2: T2-T6, B1-B5, J1/J4, C1, O2)
— over a hash family both Spark and DuckDB implement identically (md5 of
the shingle string), making every stage hash-verifiable against an
ANSI-SQL oracle.

Everything here is built-in `pyspark.sql.functions` — zero Python UDFs;
the whole sketch stays inside whole-stage codegen. The chain itself runs
through ``run_pipeline(..., family="sql")`` (plans/pipeline.py): the same
stage DAG, checkpoint store and blocking/pairing/clustering/resolve
operators as the parity family, so a green oracle row for this mode
verifies the shared machinery, not a parallel code path.

Semantics (mirrored exactly by the DuckDB oracle in __spark_entry__.py):

* tokens  = nonempty splits of lower(text) on ``[^a-z0-9]+``
* shingle = 5 consecutive tokens joined by one space (docs with <5 tokens
  have an empty sketch and never block — reference parity for short docs)
* sketch  = the 256 lexicographically-smallest DISTINCT md5(shingle) hex
  strings, ascending (bottom-N semantics, `Shingler64.hpp:189-243`)
* bands   = 64 contiguous slices of 4 values; only bands fully inside the
  sketch participate; band_key = md5(band_id ':' joined-slice)
* jaccard = |sig_a ∩ sig_b| / |sig_a ∪ sig_b| (J1, `Jaccard.h:23-43`),
  threshold 0.7 (`CPPDeduper.cpp:336`)
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..config import DedupeConfig

# the same regex tokenizer the SQL-checkable analytics operators use
TOKEN_SPLIT = "[^a-z0-9]+"


def _tokens(text: Column) -> Column:
    return F.filter(F.split(F.lower(text), TOKEN_SPLIT), lambda x: x != "")


def sql_sketch(
    docs: DataFrame, cfg: DedupeConfig, num_hashes: int | None = None
) -> DataFrame:
    """(id, text) → (id, sig_len, signature array<string>). Pure built-ins:
    the scan reads two columns, every expression is codegen'd JVM-side."""
    n = num_hashes or cfg.num_hashes
    k = cfg.shingle_k
    id_col, text_col = cfg.id_col, cfg.text_col
    # two-step projection: the shingle lambda references the token array
    # once PER SHINGLE; materializing tokens as a column first keeps the
    # split/filter tokenizer at one evaluation per doc instead of one per
    # shingle (Catalyst inlines aliases into lambdas — measured ~11× on
    # the analogous n-gram operator at sf0.1)
    toks = F.col("_w")
    shingles = F.when(
        F.size(toks) >= k,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - F.lit(k - 1)),
            lambda i: F.array_join(F.slice(toks, i, k), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))
    sig = F.slice(F.array_sort(F.array_distinct(F.transform(shingles, F.md5))), 1, n)
    return docs.select(F.col(id_col), _tokens(F.col(text_col)).alias("_w")).select(
        F.col(id_col),
        F.size(sig).cast("int").alias("sig_len"),
        sig.alias("signature"),
    )


def sql_bands(signatures: DataFrame, cfg: DedupeConfig) -> DataFrame:
    """(id, signature) → (id, band_id, band_key). Band keys are md5 strings
    namespaced by band index, so downstream joins on band_key alone (same
    contract as the parity mode's content keys, operators/blocking.py)."""
    bs = cfg.band_size
    id_col = cfg.id_col
    band_ids = F.filter(
        F.sequence(F.lit(0), F.lit(cfg.bands - 1)),
        lambda b: F.col("sig_len") >= (b + F.lit(1)) * bs,
    )
    exploded = signatures.select(
        F.col(id_col), "signature", F.explode(band_ids).alias("band_id")
    )
    key = F.md5(
        F.concat(
            F.col("band_id").cast("string"),
            F.lit(":"),
            F.array_join(F.slice("signature", F.col("band_id") * bs + 1, bs), ","),
        )
    )
    return exploded.select(id_col, "band_id", key.alias("band_key"))


def sql_score_pairs(
    pairs: DataFrame, signatures: DataFrame, cfg: DedupeConfig
) -> DataFrame:
    """(a, b) × (id, signature) → (a, b, jaccard). Set-Jaccard of the two
    distinct-element sketches via array_intersect — JVM-side, no UDF."""
    id_col = cfg.id_col
    sig_a = signatures.select(F.col(id_col).alias("a"), F.col("signature").alias("sig_a"))
    sig_b = signatures.select(F.col(id_col).alias("b"), F.col("signature").alias("sig_b"))
    inter = F.size(F.array_intersect("sig_a", "sig_b"))
    union = F.size("sig_a") + F.size("sig_b") - inter
    jac = F.when(union > 0, inter.cast("double") / union.cast("double")).otherwise(
        F.lit(0.0)
    )
    return (
        pairs.join(sig_a, "a")
        .join(sig_b, "b")
        .select("a", "b", F.round(jac, 6).alias("jaccard"))
    )
