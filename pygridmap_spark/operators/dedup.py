"""Deduplication operators for the training-data pipeline (first-class
engine components per the build brief): exact, MinHash+LSH, SimHash,
n-gram Jaccard, embedding-cosine near-dup.

Design: everything JVM-side where Spark's expression language allows
(exact hash groupBy, shingling, minhash via nested higher-order functions,
banding via xxhash64), Arrow-batched numpy where it doesn't (SimHash bit
votes). All candidate generation is equi-join on bucket keys — the only
shuffles are groupBy(bucket) and the verification join; no cross joins.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from pygridmap_spark.functions import text as TX

def _sql_type(df: DataFrame, col: str) -> str:
    """Spark SQL type string of ``col`` — mapInPandas output schemas must
    echo the input id type (string/int doc ids both work; round-1 hardcoded
    ``long`` and broke on string ids)."""
    types = dict(df.dtypes)
    if col not in types:
        raise ValueError(f"column {col!r} not in DataFrame ({list(types)})")
    return types[col]


# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------


def exact_duplicates(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Groups of byte-identical (after normalization) docs: one row per doc
    in a duplicate group, with the group's canonical (min) id. Single hash
    aggregate on the fingerprint."""
    fp = df.select(F.col(id_col), TX.fingerprint(F.col(text_col)).alias("fp"))
    w = Window.partitionBy("fp")
    return (
        fp.withColumn("canonical_id", F.min(id_col).over(w))
        .withColumn("group_size", F.count(F.lit(1)).over(w))
        .filter(F.col("group_size") > 1)
        .select(id_col, "canonical_id", "fp", "group_size")
    )


def dedup_exact(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Keep one representative (min id) per fingerprint — the dedup pass
    itself. One shuffle on the fingerprint key; survivors keep all columns."""
    fp = df.withColumn("__fp__", TX.fingerprint(F.col(text_col)))
    w = Window.partitionBy("__fp__").orderBy(F.col(id_col).asc())
    return (
        fp.withColumn("__rn__", F.row_number().over(w))
        .filter(F.col("__rn__") == 1)
        .drop("__fp__", "__rn__")
    )


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------


# k independent hash functions = splitmix64 finalizer over (shingle ^ seed_i)
# with k fixed LCG-derived seeds. Round 1 used an affine family
# (a_i*h + b_i) mod (2^61-1) with a_i < 2^30 over 32-bit h — those products
# almost never wrap past the modulus, so every "hash" was order-preserving
# in h and the k mins were all correlated with argmin(h): a biased Jaccard
# estimator (caught by the estimate-tracks-exact test after the shingle
# hash change). The seeded-finalizer family actually permutes.
_MH_PRIME = (1 << 61) - 1  # kept for back-compat constants imports


def _mh_seeds(num_hashes: int) -> np.ndarray:
    state = 0x9E3779B97F4A7C15
    seeds = np.empty(num_hashes, dtype=np.uint64)
    for i in range(num_hashes):
        state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 64)
        seeds[i] = state
    return seeds


def minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 64,
    shingle_n: int = 3,
) -> DataFrame:
    """MinHash signature per doc (array<long> of length num_hashes) plus
    the distinct shingle HASH set (array<long> — 64-bit; exact Jaccard over
    the hashes equals Jaccard over the shingle strings up to 64-bit
    collisions, and hash sets shuffle/compare far cheaper than text).

    Plan: ONE Arrow-batched kernel does normalize -> tokenize -> crc32 per
    DISTINCT token (zlib C call, cached per batch — web text repeats
    tokens heavily) -> vectorized position-weighted splitmix64 combine of n
    consecutive token hashes (no per-shingle string building — the round-1
    kernel joined + encoded + crc32'd every shingle string, which was the
    dominant cost) -> per-doc ``np.unique`` -> k affine rehash-mins as a
    single numpy ``minimum.reduceat``. No shuffle, no interpreted
    higher-order expressions (a pure-Catalyst formulation with
    transform/array_min lambdas measured ~25s for 5.7k docs). Docs with no
    shingles drop out (can't be near-dup candidates)."""
    if num_hashes < 1:
        raise ValueError(f"num_hashes must be >= 1, got {num_hashes}")
    return _shingle_kernel_frame(df, id_col, text_col, shingle_n, num_hashes)


def shingle_hash_sets(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
) -> DataFrame:
    """Distinct shingle-hash set per doc — ``(id, shingles array<long>)``
    via the :func:`minhash_signatures` Arrow kernel, without the signature
    pass. Set operations over these 64-bit hashes equal the same
    operations over the shingle strings up to collisions (the minhash
    contract). Docs with fewer than ``shingle_n`` tokens drop (empty
    shingle set — they can neither contain nor be contained); NULL text
    has no tokens, so a NULL-text doc drops like an empty one."""
    return _shingle_kernel_frame(df, id_col, text_col, shingle_n, None)


def _shingle_kernel_frame(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int,
    num_hashes: int | None,
) -> DataFrame:
    import re as _re
    import zlib
    from typing import Iterator

    seeds = _mh_seeds(num_hashes)[:, None] if num_hashes is not None else None  # (k, 1)
    norm_re = _re.compile(r"[^a-z0-9]+")
    # odd position multipliers so shingle hashes are order-sensitive
    pos_mult = [
        np.uint64(((0x9E3779B97F4A7C15 * (2 * j + 1)) | 1) & 0xFFFFFFFFFFFFFFFF)
        for j in range(shingle_n)
    ]

    def _kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            if not len(batch):
                continue
            # tokenize the whole batch, then crc32 only the batch's DISTINCT
            # tokens (pd.factorize; web text repeats tokens heavily) — the
            # round-3 per-token Python dict loop was the interpreter-bound
            # part of this kernel
            tok_lists, ids = [], []
            for doc_id, text in zip(batch[id_col], batch[text_col]):
                # NULL text has no tokens (str(None) would be the token 'none')
                toks = norm_re.sub(" ", "" if text is None else str(text).lower()).split()
                if len(toks) - shingle_n + 1 < 1:
                    continue
                tok_lists.append(toks)
                ids.append(doc_id)
            if not ids:
                continue
            tok_lens = np.fromiter((len(t) for t in tok_lists), dtype=np.int64, count=len(ids))
            codes, uniques = pd.factorize(
                pd.Series([t for tl in tok_lists for t in tl]), sort=False
            )
            uniq_h = np.fromiter(
                (zlib.crc32(u.encode("utf-8")) for u in uniques),
                dtype=np.uint64, count=len(uniques),
            )
            th_flat = uniq_h[codes]  # (total_tokens,) uint64
            starts_tok = np.zeros(len(ids), dtype=np.int64)
            np.cumsum(tok_lens[:-1], out=starts_tok[1:])
            shingle_sets = []
            for s0, ln in zip(starts_tok, tok_lens):
                th = th_flat[s0 : s0 + ln]
                n_sh = ln - shingle_n + 1
                acc = th[:n_sh] * pos_mult[0]
                for j in range(1, shingle_n):
                    acc = acc ^ (th[j : j + n_sh] * pos_mult[j])
                shingle_sets.append(np.unique(_splitmix64(acc)))
            if seeds is None:
                yield pd.DataFrame(
                    {
                        id_col: ids,
                        "shingles": [s.astype(np.int64) for s in shingle_sets],
                    }
                )
                continue
            lens = np.fromiter((len(s) for s in shingle_sets), dtype=np.int64, count=len(ids))
            flat = np.concatenate(shingle_sets)  # uint64
            starts = np.zeros(len(lens), dtype=np.int64)
            np.cumsum(lens[:-1], out=starts[1:])
            # k-hash mins computed in SEED SLABS: the full (k, n_shingles)
            # splitmix pipeline allocates ~6 temporaries of k*n*8 bytes —
            # hundreds of MB per batch at k=64, pure memory-bandwidth burn.
            # 8 seeds at a time keeps every temporary ~cache-sized; values
            # are bit-identical (same arithmetic per seed row).
            mins = np.empty((num_hashes, len(lens)), dtype=np.uint64)
            for k0 in range(0, num_hashes, 8):
                vals = _splitmix64(flat[None, :] ^ seeds[k0 : k0 + 8])
                mins[k0 : k0 + 8] = np.minimum.reduceat(vals, starts, axis=1)
            # int64 view: signature values may be negative, which is fine —
            # banding compares equality, never order
            mins = mins.astype(np.int64)
            yield pd.DataFrame(
                {
                    id_col: ids,
                    "signature": list(mins.T),
                    "shingles": [s.astype(np.int64) for s in shingle_sets],
                }
            )

    id_type = _sql_type(df, id_col)
    sig_part = "signature array<long>, " if num_hashes is not None else ""
    return df.select(id_col, text_col).mapInPandas(
        _kernel, f"{id_col} {id_type}, {sig_part}shingles array<long>"
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    jaccard_threshold: float = 0.8,
    max_bucket: int | None = 100_000,
) -> DataFrame:
    """Candidate pairs via LSH banding, verified with exact shingle-set
    Jaccard (array_intersect/array_union — JVM). Returns
    (doc_a, doc_b, jaccard) with doc_a < doc_b, deduped across bands.

    ``max_bucket`` defaults to 100 000: an unbounded per-bucket self-join
    on one 10^6-doc boilerplate bucket is a job-killing 10^12-pair
    explosion, and library callers at scale should not need to know the
    knob exists to be safe. Pass ``None`` to opt out explicitly (exact
    recall on pathological inputs). The cap is a lazy semi-join against
    the <=cap bucket keys (no driver action; over-cap buckets are not
    individually logged — count them from the banded frame if needed).

    NOTE: the signature kernel runs EAGERLY at call time (the compact
    (id, signature, shingles) frame is checkpointed once — the banding,
    the cap count and both verify joins all read it); the pair pipeline
    itself is lazy.

    Scale: the band-join exchange carries ONLY (band, bucket, doc_id) — at
    100 TB the dominant shuffle is the ×bands replication, so the shingle
    arrays must not ride it. Shingle sets are joined back by doc id (twice,
    for each pair side) only for the deduped candidate pairs, which are a
    tiny fraction of the corpus. Pair generation is a self-join per bucket
    (skew-capped by AQE; giant buckets indicate boilerplate and can be
    salted/limited upstream)."""
    if bands < 1 or num_hashes % bands != 0:
        raise ValueError(
            f"num_hashes ({num_hashes}) must be a positive multiple of bands ({bands})"
        )
    # materialize signatures once: the banding self-join and the two
    # verify joins would otherwise recompute the shingle+hash pipeline
    # (checkpoint, not persist: branches under broadcast builds cannot
    # exchange-reuse a lazy subtree, and a cache would need a release
    # action — the shingle_containment_pairs discipline)
    sigs = minhash_signatures(
        df, id_col, text_col, num_hashes, shingle_n
    ).localCheckpoint(eager=True)
    return _minhash_lsh_pairs_body(
        sigs, id_col, num_hashes, bands, jaccard_threshold, max_bucket
    )


def _minhash_lsh_pairs_body(
    sigs: DataFrame,
    id_col: str,
    num_hashes: int,
    bands: int,
    jaccard_threshold: float,
    max_bucket: int | None,
) -> DataFrame:
    rows_per_band = num_hashes // bands
    banded = sigs.select(
        F.col(id_col),
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.xxhash64(
                    F.concat_ws(
                        ",",
                        F.transform(
                            F.slice(F.col("signature"), b * rows_per_band + 1, rows_per_band),
                            lambda v: v.cast("string"),
                        ),
                    ),
                    b,
                ),
            )
        ).alias("band", "bucket"),
    )
    if max_bucket is not None:
        # giant buckets are boilerplate (empty pages, templates): a
        # bucket of m docs makes m^2/2 candidate pairs. Cap the bucket
        # width — the docs inside an over-cap bucket almost always
        # still pair through their other bands (recall loss only for
        # pairs whose EVERY shared band lands in an over-cap bucket).
        # Lazy co-partitioned cap (shingle_containment_pairs shape): the
        # <=cap keys come from a partially-aggregated count of the same
        # banded projection — no driver collect job, no giant bucket
        # ever materializes anywhere.
        ok_keys = (
            banded.groupBy("band", "bucket")
            .agg(F.count(F.lit(1)).alias("__w__"))
            .filter(F.col("__w__") <= max_bucket)
            .select("band", "bucket")
        )
        banded = banded.join(ok_keys, ["band", "bucket"])
    a = banded.select("band", "bucket", F.col(id_col).alias("doc_a"))
    b = banded.select("band", "bucket", F.col(id_col).alias("doc_b"))
    pairs = (
        a.join(b, ["band", "bucket"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .dropDuplicates(["doc_a", "doc_b"])
    )
    # fetch shingle sets for the surviving candidates only (id equi-joins)
    sh = sigs.select(F.col(id_col), F.col("shingles"))
    pairs = (
        pairs.join(sh.select(F.col(id_col).alias("doc_a"), F.col("shingles").alias("_sh_a")), "doc_a")
        .join(sh.select(F.col(id_col).alias("doc_b"), F.col("shingles").alias("_sh_b")), "doc_b")
    )
    # shingles are already distinct sets (collect_set)
    inter = F.size(F.array_intersect("_sh_a", "_sh_b"))
    union = F.size(F.array_union("_sh_a", "_sh_b"))
    return (
        pairs.withColumn("jaccard", inter.cast("double") / union)
        .filter(F.col("jaccard") >= jaccard_threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    jaccard_threshold: float = 0.5,
    blocking: str = "first_shingle_hash",
) -> DataFrame:
    """Exact n-gram Jaccard over candidate pairs produced by a cheap
    blocking key (min shingle hash — docs sharing their rarest shingle
    collide). A non-LSH alternative with recall limited to pairs sharing
    the min-hash shingle (documented tradeoff)."""
    sh = df.select(
        F.col(id_col), TX.word_shingles(F.col(text_col), shingle_n).alias("_sh")
    ).filter(F.size("_sh") > 0)
    keyed = sh.withColumn(
        "block", F.array_min(F.transform("_sh", lambda s: F.xxhash64(s)))
    )
    a = keyed.select(
        "block", F.col(id_col).alias("doc_a"), F.col("_sh").alias("_sh_a")
    )
    b = keyed.select(
        "block", F.col(id_col).alias("doc_b"), F.col("_sh").alias("_sh_b")
    )
    inter = F.size(F.array_intersect(F.array_distinct("_sh_a"), F.array_distinct("_sh_b")))
    union = F.size(F.array_union("_sh_a", "_sh_b"))
    # no dropDuplicates: each doc has exactly ONE block key, so a pair can
    # appear at most once — deduping would be a pure wasted shuffle
    return (
        a.join(b, "block")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .withColumn("jaccard", inter.cast("double") / union)
        .filter(F.col("jaccard") >= jaccard_threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def _splitmix64(h: np.ndarray) -> np.ndarray:
    """Spread 32-bit token hashes over all 64 bits (splitmix64 finalizer —
    public-domain constants). uint64 arithmetic wraps, which is the point."""
    h = h.astype(np.uint64) + np.uint64(0x9E3779B97F4A7C15)
    h = (h ^ (h >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
    h = (h ^ (h >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    return h ^ (h >> np.uint64(31))


def simhash(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", bits: int = 64
) -> DataFrame:
    """64-bit SimHash per doc — Arrow-batched numpy bit votes.

    The whole batch is hashed as one flat token array: crc32 (zlib, C) per
    token, splitmix64 bit-spread in numpy, ±1 bit votes segment-reduced per
    doc with ``np.add.reduceat`` — the same flat-kernel shape as
    ``minhash_signatures``. Round 1 used a per-token per-byte Python FNV
    loop (the one interpreter-bound kernel in the repo); hash VALUES changed
    with the rewrite, which is fine — semantics are pinned on synthetic
    near-dups, not hash constants."""
    import zlib

    bit_idx = np.arange(bits, dtype=np.uint64)

    def _simhash(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            if not len(batch):
                continue
            tok_lists = [t.lower().split() for t in batch[text_col].astype(str)]
            lens = np.fromiter((len(t) for t in tok_lists), dtype=np.int64, count=len(tok_lists))
            sims = np.zeros(len(batch), dtype=np.uint64)
            nz = lens > 0
            if nz.any():
                flat = np.fromiter(
                    (zlib.crc32(tok.encode("utf-8")) for tl in tok_lists for tok in tl),
                    dtype=np.uint64,
                    count=int(lens.sum()),
                )
                hashes = _splitmix64(flat)
                starts = np.zeros(int(nz.sum()), dtype=np.int64)
                np.cumsum(lens[nz][:-1], out=starts[1:])
                # per-bit ones count segment-summed per doc (bit majority
                # vote == ones > tokens/2); one O(n_tokens) pass per bit
                # keeps peak memory at n_tokens int64, not n_tokens*bits
                ones = np.empty((len(starts), bits), dtype=np.int64)
                for b in range(bits):
                    ones[:, b] = np.add.reduceat(
                        ((hashes >> np.uint64(b)) & np.uint64(1)).astype(np.int64), starts
                    )
                majority = (2 * ones > lens[nz][:, None]).astype(np.uint64)
                sims[nz] = (majority << bit_idx).sum(axis=1)
            yield pd.DataFrame(
                {id_col: batch[id_col].to_numpy(), "simhash": sims.astype(np.int64)}
            )

    id_type = _sql_type(df, id_col)
    return df.select(id_col, text_col).mapInPandas(_simhash, f"{id_col} {id_type}, simhash long")


def simhash_near_duplicates(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    blocks: int | None = None,
    max_bucket: int | None = 100_000,
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance <= max_hamming, using the
    standard pigeonhole blocking: split the 64-bit hash into ``blocks``
    chunks; any pair within distance <= blocks-1 shares at least one exact
    chunk -> equi-join per chunk, verify with bit_count(xor). ``blocks``
    defaults to max_hamming+1 — the minimum that makes the recall exact.
    ``max_bucket`` defaults to 100 000 (see minhash_lsh_pairs — same
    boilerplate blow-up guard, same ``None`` opt-out; same lazy
    co-partitioned cap, no driver action).

    NOTE: the simhash kernel runs EAGERLY at call time (the compact
    (id, simhash) frame is checkpointed once — the cap count and both
    self-join sides read it); the pair pipeline itself is lazy."""
    if blocks is None:
        blocks = min(max_hamming + 1, 32)
    if blocks < max_hamming + 1:
        raise ValueError(
            f"blocks={blocks} cannot guarantee recall at max_hamming={max_hamming}"
        )
    # checkpoint, not persist: the chunked frame feeds the wide-bucket
    # count (when capped) plus BOTH sides of the self-join — branches
    # under broadcast builds cannot exchange-reuse a lazy subtree, and a
    # cache would need a release action (shingle_containment_pairs shape)
    sh = simhash(df, id_col, text_col).localCheckpoint(eager=True)
    return _simhash_near_duplicates_body(sh, id_col, max_hamming, blocks, max_bucket)


def _simhash_near_duplicates_body(
    sh: DataFrame,
    id_col: str,
    max_hamming: int,
    blocks: int,
    max_bucket: int | None,
) -> DataFrame:
    width = 64 // blocks
    chunk_exprs = []
    for i in range(blocks):
        w = width if i < blocks - 1 else 64 - width * (blocks - 1)
        chunk_exprs.append(
            F.shiftrightunsigned(F.col("simhash"), width * i).bitwiseAND(
                F.lit((1 << w) - 1)
            )
        )
    chunked = sh.select(
        id_col,
        "simhash",
        F.posexplode(F.array(*chunk_exprs)).alias("chunk_idx", "chunk"),
    )
    if max_bucket is not None:
        # boilerplate guard (see minhash_lsh_pairs.max_bucket): identical
        # simhashes share EVERY chunk, so run exact dedup first — the cap
        # is for near-identical templates flooding one chunk value.
        # Lazy co-partitioned cap: <=cap keys from a partially-aggregated
        # count of the same chunked projection, no driver collect job.
        ok_keys = (
            chunked.groupBy("chunk_idx", "chunk")
            .agg(F.count(F.lit(1)).alias("__w__"))
            .filter(F.col("__w__") <= max_bucket)
            .select("chunk_idx", "chunk")
        )
        chunked = chunked.join(ok_keys, ["chunk_idx", "chunk"])
    a = chunked.select(
        "chunk_idx", "chunk", F.col(id_col).alias("doc_a"), F.col("simhash").alias("_ha")
    )
    b = chunked.select(
        "chunk_idx", "chunk", F.col(id_col).alias("doc_b"), F.col("simhash").alias("_hb")
    )
    return (
        a.join(b, ["chunk_idx", "chunk"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .withColumn("hamming", F.bit_count(F.col("_ha").bitwiseXOR(F.col("_hb"))))
        .filter(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
        .dropDuplicates(["doc_a", "doc_b"])
    )


def connected_components(pairs: DataFrame, a: str = "doc_a", b: str = "doc_b", max_iter: int = 20) -> DataFrame:
    """Duplicate-group clustering: pairs -> (doc_id, component_id) where
    component_id is the min doc id reachable through the pair graph.

    Each round does (a) neighbor-min propagation and (b) pointer jumping
    (label <- label of label), so label paths halve every round and
    convergence is O(log diameter) — plain 1-hop propagation alone would
    need O(diameter) rounds and silently split long transitive dup chains.
    Rounds are localCheckpointed; raises RuntimeError if max_iter rounds
    don't converge (never returns silently-wrong groups)."""
    edges = (
        pairs.select(F.col(a).alias("u"), F.col(b).alias("v"))
        .unionByName(pairs.select(F.col(b).alias("u"), F.col(a).alias("v")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    labels = (
        edges.select(F.col("u").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
        .localCheckpoint(eager=True)
    )
    converged = False
    for _ in range(max_iter):
        neighbor_min = (
            edges.join(labels, edges["v"] == labels["node"])
            .groupBy("u")
            .agg(F.min("label").alias("nmin"))
        )
        stepped = labels.join(
            neighbor_min, labels["node"] == neighbor_min["u"], "left"
        ).select(
            "node",
            F.least(F.col("label"), F.coalesce(F.col("nmin"), F.col("label"))).alias("label"),
        )
        # pointer jumping: label <- label's own label (halves label paths)
        parent = stepped.select(
            F.col("node").alias("pnode"), F.col("label").alias("plabel")
        )
        new_labels = (
            stepped.join(parent, stepped["label"] == parent["pnode"], "left")
            .select(
                "node",
                F.least(F.col("label"), F.coalesce(F.col("plabel"), F.col("label"))).alias("label"),
            )
            .localCheckpoint(eager=True)
        )
        stable = (
            new_labels.alias("n")
            .join(labels.alias("o"), "node")
            .filter(F.col("n.label") != F.col("o.label"))
            .isEmpty()
        )
        labels = new_labels
        if stable:
            converged = True
            break
    if not converged:
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds; "
            "raise max_iter (graph diameter exceeds 2^rounds)"
        )
    return labels.select(F.col("node").alias("doc_id"), F.col("label").alias("component_id"))


# ---------------------------------------------------------------------------
# embedding cosine near-dup
# ---------------------------------------------------------------------------


def embedding_near_duplicates(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    planes: int = 16,
    seed: int = 42,
) -> DataFrame:
    """Near-dup pairs by cosine >= threshold. Candidates from random-
    hyperplane LSH (sign-signature equi-join — two vectors at cosine ~1
    almost surely share the full signature), verified with exact cosine
    (JVM zip_with/aggregate). Returns (id_a, id_b, cosine)."""
    from pygridmap_spark.functions import vectors as V
    from pygridmap_spark.operators.similarity import with_hyperplane_signature

    sig = with_hyperplane_signature(df, vec_col, planes=planes, seed=seed)
    a = sig.select(
        F.col("signature"), F.col(id_col).alias("id_a"), F.col(vec_col).alias("_va")
    )
    b = sig.select(
        F.col("signature"), F.col(id_col).alias("id_b"), F.col(vec_col).alias("_vb")
    )
    # no dropDuplicates: one signature per vector, so a pair appears at
    # most once (unlike multiprobe LSH search, where a query hits a
    # candidate through several probed buckets)
    return (
        a.join(b, "signature")
        .filter(F.col("id_a") < F.col("id_b"))
        # Arrow numpy kernel: candidate verification is the bulk hot path
        .withColumn("cosine", V.cosine_arrow(F.col("_va"), F.col("_vb")))
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


def shingle_containment_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    containment_threshold: float = 0.5,
    max_shingle_freq: int = 0,
) -> DataFrame:
    """Asymmetric shingle CONTAINMENT between documents — the quote /
    inclusion detector Jaccard misses: a short doc fully embedded in a
    long one has Jaccard ≈ |A|/|B| (tiny) but containment
    C(A→B) = |A∩B| / |A| = 1. Broder's containment measure (public,
    "On the resemblance and containment of documents", 1997).

    Output: one row per unordered candidate pair ``(doc_a < doc_b)``
    with ``overlap`` (shared distinct shingles), ``size_a``/``size_b``
    (distinct shingle counts) and both directed containments; kept when
    ``greatest(containment_a, containment_b) >= containment_threshold``.
    Each containment is ONE division of two engine-exact integers, so
    the driver oracle (the identical shingle pipeline on strings in
    DuckDB) hash-gates the doubles.

    Scale shape — the inverted-index join, not all-pairs: per-doc
    DISTINCT shingle-hash arrays built in-row (array_distinct — a
    shingle set is distinct within its document by definition, so no
    corpus-wide distinct Exchange exists; shingles ride every exchange
    as 8-byte hashes, never strings; overlap over hashes equals overlap
    over strings up to collisions of the 32-bit per-token crc32 and of
    the 64-bit combine, the minhash contract); per-doc sizes are F.size of the same array (no
    aggregation pass);
    the postings self-join shuffles on the shingle hash, and its
    fan-out is sum_s C(freq(s), 2) — bounded by capping boilerplate
    shingles with ``max_shingle_freq`` (the same broadcast anti-join
    cap as LSH banding; pairs sharing ONLY over-cap shingles are not
    emitted, the documented recall tradeoff at lake scale). Overlap
    counts partial-aggregate on the pair key before the final
    exchange; the two size attachments are id-keyed joins of
    doc-bounded frames.

    Round-6 shape — ONE lazy plan, no driver action: per-doc sizes RIDE
    the posting rows (8 bytes each) instead of being joined back, so the
    two size joins and their broadcast builds are gone; the freq cap is a
    lazy semi-join against the ≤-cap shingle keys computed from the SAME
    postings exchange (Spark reuses the identical exchange subtree — the
    count pass is partially aggregated, so a lake-scale boilerplate
    shingle never materializes its bucket anywhere), replacing the old
    collect + broadcast anti-join job; and the per-doc arrays come from
    the minhash Arrow kernel, which hashes distinct TOKENS once (crc32,
    C) and combines n consecutive token hashes positionally — the former
    Catalyst chain built every shingle STRING through interpreted HOFs
    and xxhash64'd it, measured ~43 of this query's 48 task-seconds at
    sf0.1. The internal hash family change is invisible in the output
    (set overlap over the shingle hashes equals overlap over the strings
    up to collisions of the 32-bit per-token crc32 and of the 64-bit
    combine — the documented minhash contract the oracle gates);
    docs with < n tokens drop in the kernel; they had an empty shingle
    set before (no postings, no sizes row) — output-identical. Over-cap
    buckets are no longer counted driver-side, so the dropped-bucket log
    line is gone; the cap semantics are unchanged (pairs sharing only
    over-cap shingles are not emitted)."""
    # the per-doc frame is referenced by up to four plan branches (freq
    # keys + both pair sides, each possibly under a broadcast build that
    # AQE cannot exchange-reuse across): one eager materialization of the
    # compact (id, hashes) frame keeps the kernel single-run
    per_doc = shingle_hash_sets(df, id_col, text_col, shingle_n).localCheckpoint(
        eager=True
    )
    postings = per_doc.select(
        F.col(id_col),
        F.size("shingles").alias("__n__"),
        F.explode("shingles").alias("__sh__"),
    )
    capped = postings
    if max_shingle_freq:
        ok_keys = (
            postings.groupBy("__sh__")
            .agg(F.count(F.lit(1)).alias("__freq__"))
            .filter(F.col("__freq__") <= max_shingle_freq)
            .select("__sh__")
        )
        capped = postings.join(ok_keys, "__sh__")
    a = capped.select(
        "__sh__", F.col(id_col).alias("doc_a"), F.col("__n__").alias("size_a")
    )
    b = capped.select(
        "__sh__", F.col(id_col).alias("doc_b"), F.col("__n__").alias("size_b")
    )
    pairs = (
        a.join(b, "__sh__")
        .filter(F.col("doc_a") < F.col("doc_b"))
        # sizes are functions of the doc ids: keying on them adds nothing
        # to the group count and saves both id-keyed join-backs
        .groupBy("doc_a", "doc_b", "size_a", "size_b")
        .agg(F.count(F.lit(1)).alias("overlap"))
    )
    out = pairs.withColumns(
        {
            "containment_a": F.col("overlap").cast("double") / F.col("size_a"),
            "containment_b": F.col("overlap").cast("double") / F.col("size_b"),
        }
    )
    return out.filter(
        F.greatest("containment_a", "containment_b") >= F.lit(containment_threshold)
    ).select(
        "doc_a", "doc_b", "overlap", "size_a", "size_b",
        "containment_a", "containment_b",
    )
