"""SimHash fingerprinting + banded near-pair search.

Charikar SimHash over the document's distinct-token set: each token
hashes to ``SIMHASH_BITS`` bits (portable 60-bit md5 hash so the
DuckDB oracle can replay it); bit j of the fingerprint is 1 iff more
tokens set bit j than clear it (strict majority — ties → 0). The
fingerprint is a per-document sketch: 32 folds over the row's own
token-hash array in one projection, map-side, with no explode and no
shuffle.

Near-pair search uses the pigeonhole banding trick, NOT a cross
join: split the fingerprint into ``n_bands`` chunks; any pair with
Hamming distance ≤ n_bands−1 must agree exactly on ≥1 chunk, so an
equi-join on (band, chunk_value) finds all candidates, then the
exact ``bit_count(xor)`` filter keeps real ones. At 100 TB the
cross join is impossible; the band join is linear-ish in docs per
bucket.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import has_token, portable_hash60, tokens

#: 32 bits: at 16 bits, same-domain corpora (shared vocabulary)
#: collapse — nearly all pairs land within Hamming 3; 32 bits keeps
#: only genuine near-duplicates there.
SIMHASH_BITS = 32


def simhash_docs(docs: DataFrame) -> DataFrame:
    """(doc_id, simhash) with a ``SIMHASH_BITS``-bit fingerprint, for
    every doc with at least one token.

    A per-document sketch in one projection, no explode and no
    ``groupBy``: ``hv`` holds the portable hashes of the doc's distinct
    tokens, and bit j is set iff more than half of them set it,
    ``2 * aggregate(hv, 0L, (acc, h) -> acc + ((h >> j) & 1)) > size(hv)``
    (the oracle's ``sum(±1) > 0``). ``hv`` is referenced by all 32
    folds, so Catalyst keeps it in its own projection: tokenizing and
    md5 run once per doc. Token-less docs are dropped by a regex test
    on the raw text, before tokenizing: a filter on ``hv`` would be
    pushed below its projection, ``hv`` inlined, and hash every doc
    twice."""
    from ..functions.util import rebalance

    bits = " + ".join(
        f"(CASE WHEN 2 * aggregate(hv, 0L, (acc, h) -> acc + ((h >> {j}) & 1))"
        f" > size(hv) THEN {1 << j} ELSE 0 END)"
        for j in range(SIMHASH_BITS)
    )
    hashed = (
        f"transform(array_distinct({tokens('text')}), "
        f"w -> {portable_hash60('w')})"
    )
    return (
        rebalance(docs.filter(has_token("text")))
        .selectExpr("doc_id", f"{hashed} AS hv")
        .selectExpr("doc_id", f"CAST({bits} AS BIGINT) AS simhash")
    )


def simhash_near_pairs(
    docs: DataFrame,
    max_hamming: int = 3,
    n_bands: int = 4,
) -> DataFrame:
    """(d1, d2, hamming) pairs with Hamming(simhash) ≤ max_hamming.

    Requires ``max_hamming <= n_bands - 1`` for the pigeonhole
    guarantee (results then equal the exhaustive cross join)."""
    if max_hamming > n_bands - 1:
        raise ValueError("pigeonhole guarantee needs max_hamming <= n_bands - 1")
    band_bits = SIMHASH_BITS // n_bands
    mask = (1 << band_bits) - 1
    sh = simhash_docs(docs)
    chunks = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.shiftright(F.col("simhash"), b * band_bits)
                .bitwiseAND(F.lit(mask))
                .alias("chunk"),
            )
            for b in range(n_bands)
        ]
    )
    bands = sh.select("doc_id", "simhash", F.explode(chunks).alias("bk")).select(
        "doc_id", "simhash", F.col("bk.band").alias("band"), F.col("bk.chunk").alias("chunk")
    )
    a, b = bands.alias("a"), bands.alias("b")
    ham = F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
    # "emit from first colliding band": both fingerprints are present
    # in the joined row, so whether any EARLIER band also matched is
    # a per-row bit computation — each qualifying pair is emitted
    # exactly once and the distinct() (a full shuffle of the raw
    # candidate stream) disappears.
    first_band = F.expr(
        f"a.band = 0 OR NOT exists("
        f"  sequence(0, a.band - 1),"
        f"  j -> (shiftright(a.simhash, j * {band_bits}) & {mask})"
        f"     = (shiftright(b.simhash, j * {band_bits}) & {mask}))"
    )
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .filter(ham <= max_hamming)
        .filter(first_band)
        .select(
            F.col("a.doc_id").alias("d1"),
            F.col("b.doc_id").alias("d2"),
            ham.cast("int").alias("hamming"),
        )
    )
