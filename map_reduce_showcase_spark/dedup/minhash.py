"""MinHash + LSH banding near-dup detection (per-document sketch →
band → bucket-join with the exact-Jaccard verify inside it).

The 100 TB near-dup pipeline, per the classic Broder construction:

1. sketch each doc in its own row, map-side: its distinct word-n-gram
   shingles hashed to ``ks`` (``sz = size(ks)``) and k minhashes
   ``mh_i = array_min(transform(ks, k -> h_i(k)))`` over them, with
   ``h_i`` a universal hash of the portable 60-bit md5 hash so the
   DuckDB oracle can replay signatures bit-for-bit (production would
   use xxhash64, same structure, ~3× faster). No explode and no
   ``groupBy``: the sketch never leaves the row it was computed in,
2. band the signature into b bands of r rows; docs agreeing on any
   whole band become candidates — the ONLY join is an equi-join on
   (band, band_key), so candidate generation is linear-ish, never
   pairwise,
3. verify in the same join: band rows carry ``sz`` and ``ks``, so a
   candidate's exact Jaccard is
   ``size(array_intersect(a.ks, b.ks)) / (a.sz + b.sz - inter)``,
   computed where the pair meets. Nothing is joined back.

Tuning: P(candidate) = 1 − (1 − J^r)^b. The default b=4, r=3 puts
the S-curve midpoint at J≈0.55: J≥0.9 pairs are caught with P>0.99,
J=0.7 pairs with P≈0.81, and the J≈0.1 background almost never
collides — candidate count is what the verify's cost scales with,
so the default trades a little recall at the threshold edge for a
~25× smaller candidate set; use b=6, r=2 when J≈0.5-0.7 recall
matters more than verify cost. Skew note: identical boilerplate docs
all share every band, so one bucket can hold many of them; the band
join is a sort-merge join, which spills such a bucket instead of
holding it in memory.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import portable_hash60, shingles, tokens
from .jaccard import keep_jaccard

#: Universal-hash family h_i(x) = (a_i·x + b_i) mod MOD over the
#: base 60-bit md5 hash reduced mod MOD. One md5 per shingle instead
#: of k (md5 dominates minhash cost); a_i·x stays < 2^63 so the
#: arithmetic is portable to any engine with 64-bit integers.
MOD = 2_147_483_647  # 2^31 − 1 (prime)
_A_MULT = 2_654_435_761  # Knuth multiplicative constant
_B_MULT = 40_503

#: shared shingles of the two sides of a band join
_INTER = "size(array_intersect(a.ks, b.ks))"


def _hash_params(i: int) -> tuple[int, int]:
    return (i * _A_MULT + 1) % MOD, (i * _B_MULT + 7) % MOD


def minhash_sketches(
    docs: DataFrame,
    n: int = 2,
    num_hashes: int = 12,
    rows_per_band: int = 3,
) -> DataFrame:
    """(doc_id, sz, ks, bkeys), one row per doc: ``ks`` its distinct
    shingle hashes, ``sz = size(ks)``, and ``bkeys`` its
    ``num_hashes // rows_per_band`` band keys, each band's minhashes
    packed into one equi-joinable string.

    Three projections, each over the row's own arrays: tokens, then
    ``ks``, then the sketch. The token array and ``ks`` are referenced
    many times above them, so Catalyst keeps each in its own
    projection and tokenizing and md5 run once per doc.

    A doc without shingles has NULL band keys (``array_min`` of an
    empty array is NULL, and ``concat`` keeps it), and
    :func:`band_rows` drops them, as the oracle's ``unnest`` drops
    such docs; ``concat_ws`` would have made them '' keys that all
    collide. The drop is not a filter on ``ks``: Catalyst would push
    it below the projections and compute the sketch twice. For the
    same reason a NULL text is read as no tokens, which makes ``ks``
    and ``sz`` non-nullable: the ``IS NOT NULL`` filters the band join
    would otherwise infer for them fold away instead of moving down."""
    from ..functions.util import rebalance

    n_bands = num_hashes // rows_per_band
    mins = []
    for i in range(n_bands * rows_per_band):
        mult, add = _hash_params(i)
        mins.append(
            f"CAST(array_min(transform(ks, k -> "
            f"(({mult} * (k % {MOD})) + {add}) % {MOD})) AS STRING)"
        )
    bkeys = ", ".join(
        "concat(" + ", ',', ".join(mins[b * rows_per_band:(b + 1) * rows_per_band]) + ")"
        for b in range(n_bands)
    )
    hashed = f"transform({shingles('_toks', n)}, s -> {portable_hash60('s')})"
    return (
        rebalance(docs)
        .selectExpr(
            "doc_id",
            f"coalesce({tokens('text')}, CAST(array() AS ARRAY<STRING>)) AS _toks",
        )
        .selectExpr("doc_id", f"array_distinct({hashed}) AS ks")
        .selectExpr("doc_id", "size(ks) AS sz", "ks", f"array({bkeys}) AS bkeys")
    )


def band_rows(sketches: DataFrame) -> DataFrame:
    """(doc_id, sz, ks, bkeys, band, bkey): one row per band of each
    sketch with shingles. ``bkeys`` carries the FULL per-band key
    vector alongside the exploded key so a colliding pair can check
    in place whether an earlier band already matched — candidate
    joins then emit each pair exactly once instead of distinct()-ing
    (a full shuffle of the raw candidate stream).

    ``posexplode_outer`` (``bkeys`` is never empty, so the rows are
    the same) keeps Catalyst from inferring ``size(bkeys) > 0`` and
    pushing it, sketch inlined, below the projections; the NULL-key
    filter sits on the generator's output, which cannot move below
    it."""
    return sketches.selectExpr("*", "posexplode_outer(bkeys) AS (band, bkey)").filter(
        "bkey IS NOT NULL"
    )


#: True iff no band BEFORE the joined one also matched — the
#: exactly-once emission filter for banded candidate joins. ONE parsed
#: expression: the Column-API lambda form of the same tree costs
#: ~20 ms of py4j round trips per lambda to build.
_FIRST_BAND_MATCH = (
    "NOT exists(zip_with(slice(a.bkeys, 1, a.band), "
    "slice(b.bkeys, 1, b.band), (x, y) -> x = y), hit -> hit)"
)


def lsh_candidate_pairs(sketches: DataFrame, is_new=None) -> DataFrame:
    """``(d1, d2, jac)`` with d1 < d2, once for every pair of docs
    that agree on at least one whole band; ``jac`` is the pair's exact
    Jaccard, from the ``ks`` and ``sz`` both band rows carry.

    The band self-join is hinted ``merge``: both sides are the same
    subtree, so they reuse one exchange and each sketch is computed
    once (a broadcast join would recompute it on the stream side).
    Sort-merge rather than shuffled-hash because every band row
    carries its doc's whole ``ks``, and identical boilerplate docs
    all land in one bucket: a sort spills such a bucket to disk where
    a per-partition hash table would have to hold it in memory. With
    ``is_new`` (see :func:`incremental_minhash_near_dup_pairs`) one
    side holds only new docs."""
    bands = band_rows(sketches)
    same_band = F.expr(f"a.band = b.band AND a.bkey = b.bkey AND {_FIRST_BAND_MATCH}")
    if is_new is None:
        a = bands.alias("a")
        pair = F.expr("a.doc_id < b.doc_id")
    else:
        a = bands.filter(is_new("doc_id")).alias("a")
        # the ordering term dedups the new×new quadrant (seen from
        # both sides) while keeping new×old rows, whose old side
        # never appears on the filtered ``a`` side
        pair = F.expr(
            f"a.doc_id <> b.doc_id AND (a.doc_id < b.doc_id OR NOT ({is_new('b.doc_id')}))"
        )
    return a.join(bands.alias("b").hint("merge"), same_band & pair).selectExpr(
        "least(a.doc_id, b.doc_id) AS d1",
        "greatest(a.doc_id, b.doc_id) AS d2",
        f"{_INTER} * 1.0D / (a.sz + b.sz - {_INTER}) AS jac",
    )


def minhash_near_dup_pairs(
    docs: DataFrame,
    n: int = 2,
    num_hashes: int = 12,
    rows_per_band: int = 3,
    threshold: float = 0.7,
) -> DataFrame:
    """Full pipeline: per-document sketches → LSH band join with the
    exact-Jaccard verify ≥ threshold inside it, so the verify only
    ever touches candidate pairs (never all pairs — that is the
    entire point at 100 TB). Output ``(d1, d2, jaccard)``; identical
    columns to :func:`ngram_jaccard_pairs` (its exhaustive twin) so
    tests can diff them for recall."""
    sk = minhash_sketches(docs, n, num_hashes, rows_per_band)
    return keep_jaccard(lsh_candidate_pairs(sk), F.col("jac"), threshold)


def incremental_minhash_near_dup_pairs(
    docs: DataFrame,
    is_new,
    n: int = 2,
    num_hashes: int = 12,
    rows_per_band: int = 3,
    threshold: float = 0.7,
) -> DataFrame:
    """Batch-vs-corpus near-dup detection — the shape a 100 TB
    pipeline actually runs every day: dedup TODAY'S batch against
    the whole corpus without ever re-pairing the corpus with itself.

    ``is_new`` is a deterministic SQL-text predicate factory over the
    doc id (``is_new("b.doc_id")`` returns e.g. ``"b.doc_id % 5 = 0"``:
    a hash bucket or an ingest-date comparison); being
    a pure function of the id, it filters the band frame directly —
    no flag column needs carrying through the pipeline. Candidates
    require a NEW doc on at least one side, so the old×old quadrant
    — asymptotically ALL of the work as the corpus outgrows the
    daily batch — is never generated, joined, or verified: per-day
    cost is O(|batch| × bucket density), not O(|corpus|²). The
    sketch of the old side is recomputed here for
    self-containedness; in production it is the persisted artifact
    this function's band frame models (append-only, since
    signatures never change).

    Output ``(d1, d2, jaccard)`` with d1 < d2, exactly like
    :func:`minhash_near_dup_pairs` restricted to pairs touching the
    batch."""
    sk = minhash_sketches(docs, n, num_hashes, rows_per_band)
    return keep_jaccard(lsh_candidate_pairs(sk, is_new), F.col("jac"), threshold)
