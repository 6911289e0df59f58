"""Deduplication operators for training-data pipelines (extension —
no reference counterpart; SURVEY §7.8 north star, BASELINE.json).

Set-oriented throughout; per-row math-dense kernels (shingle hashing,
minhash signatures) are Arrow-batched pandas UDFs — Spark evaluates
nested higher-order lambdas interpreted per element, so the expression
twins exist for oracle parity, not for the hot path:

- **exact**: content-hash groupBy — one shuffle on the hash.
- **MinHash + LSH**: char-shingles → portable 40-bit rolling
  polynomial shingle hashes (Horner over code points — bit-identical
  across engines and between the numpy kernel and the SQL expression
  twin) → k permutation-min signature → banded bucket join. Band
  buckets only ever *candidate* pairs, exact Jaccard verifies.
- **SimHash**: 64-bit majority-vote fingerprint over token hashes;
  near-dups = small Hamming distance, bucketed by 16-bit sub-bands
  (pigeonhole: ≤3 bit flips ⇒ one of 4 bands identical).
- **n-gram Jaccard**: exact set-similarity self-join via shared-shingle
  inverted index (explode → equi-join → group) — the verification
  kernel for the sketch paths.
- **embedding cosine near-dup**: see :mod:`.similarity`.

Scale notes: the full inverted-index join explodes |doc|×|shingles|
rows and is quadratic under heavy-hitter shingles — the default
self-join path therefore uses PPJoin-style prefix filtering (lossless;
see :func:`ngram_jaccard_pairs`), and at 100 TB the pipeline of choice
runs exact verification ONLY on LSH candidates
(:func:`minhash_lsh_dedup`). Bands/bucket joins shuffle on (band,
hash) which is uniformly distributed by construction; no skew salt
needed. Signatures are fixed-width arrays → Tungsten-packed.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.hashing import KNUTH, MERSENNE_31
from ..functions.text import char_shingles
from ..checkpoint import cut_lineage

# ---------------------------------------------------------------- exact


def exact_dedup(
    df: DataFrame, text_col: str, id_col: str, keep: str = "min"
) -> DataFrame:
    """Exact dedup by content hash: one row per distinct text, keeping
    the min (or max) id; ``dup_cnt`` counts the group size."""
    agg_fn = F.min if keep == "min" else F.max
    return (
        df.groupBy(F.md5(F.col(text_col)).alias("content_hash"))
        .agg(
            agg_fn(F.col(id_col)).alias("keeper_id"),
            F.count(F.lit(1)).alias("dup_cnt"),
        )
    )


def exact_dedup_keep_rows(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """The filtered form: the input rows that survive exact dedup."""
    keepers = exact_dedup(df, text_col, id_col).select(
        F.col("keeper_id").alias(id_col)
    )
    return df.join(keepers, id_col, "leftsemi")


# ------------------------------------------------------------- minhash


# rolling-hash parameters: Horner base and a prime just under 2^40 —
# acc*B + codepoint stays < 2^48 (int64-safe in numpy AND Spark SQL),
# and the 40-bit space makes within-doc gram collisions negligible
# (~300²/2^41 ≈ 4e-8 per doc vs ~2e-5 for a 32-bit hash)
SHINGLE_B = 257
SHINGLE_P = 1_099_511_627_689  # prime < 2^40


def shingle_hashes(text_col: str, k: int = 5) -> "F.Column":
    """Distinct char k-grams → portable rolling polynomial hashes:
    ``h(g) = Σ code(g[j])·B^(k-1-j) mod P`` via Horner — pure JVM
    expression, value-identical to the numpy kernel
    (:func:`shingle_hashes_pandas`), reproducible in any engine that
    can fold over code points."""
    grams = char_shingles(text_col, k, distinct=True)
    return F.transform(
        grams,
        lambda g: F.aggregate(
            F.split(g, ""),
            F.lit(0).cast("bigint"),
            lambda acc, ch: (acc * SHINGLE_B + F.ascii(ch)) % SHINGLE_P,
        ),
    )


def shingle_hashes_pandas(
    df: DataFrame, text_col: str, k: int = 5, out: str = "sh"
) -> DataFrame:
    """Arrow-batched twin of :func:`shingle_hashes` — value-identical
    rolling hashes of distinct char k-grams (element order differs; all
    consumers use set semantics). Fully vectorized: code points come
    from one ``utf-32`` reinterpret, the Horner fold is k numpy passes
    over all windows at once — no per-gram Python, ~100× the
    interpreted-HOF expression form."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def sh_fn(texts):
        res = []
        for t in texts:
            if t is None:
                res.append(None)
                continue
            res.append(_rolling_shingle_hashes(t, k).tolist())
        return pd.Series(res)

    sh_fn.__annotations__ = {"texts": pd.Series, "return": pd.Series}
    return df.withColumn(out, pandas_udf(sh_fn, "array<bigint>")(F.col(text_col)))


def _rolling_shingle_hashes(t: str, k: int, distinct: bool = True):
    """k-gram rolling hashes of one string, vectorized Horner over
    code points (value-identical to :func:`shingle_hashes`). Default
    distinct+sorted (the minhash set semantics); ``distinct=False``
    keeps POSITION order — one hash per window start (the span-dedup
    consumer)."""
    import numpy as np

    cp = np.frombuffer(t.encode("utf-32-le"), dtype="<u4").astype(np.int64)
    if len(cp) == 0:
        # expression side: array('') folds over no chars -> hash 0
        return np.zeros(1, dtype=np.int64)
    kk = min(k, len(cp))
    m = len(cp) - kk + 1
    h = np.zeros(m, dtype=np.int64)
    for j in range(kk):
        h = (h * SHINGLE_B + cp[j : j + m]) % SHINGLE_P
    return np.unique(h) if distinct else h


def minhash_signature(
    df: DataFrame,
    text_col: str,
    num_perm: int = 64,
    shingle_k: int = 9,
    out: str = "signature",
) -> DataFrame:
    """MinHash signature: sig[i] = min over shingles of
    ``((h % p + i) * KNUTH) % p`` — universal-ish permutation family
    over the portable rolling shingle hashes.

    Physical form: Arrow-batched pandas UDF with a numpy kernel. The
    expression formulation (:func:`minhash_signature_expr`) is
    value-identical but Spark interprets nested higher-order lambdas
    per element (HOFs never enter codegen), which measures ~16× slower
    — for a num_perm×shingles inner loop the vectorized kernel is the
    right physical plan at any scale.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    p = MERSENNE_31
    perms = np.arange(num_perm, dtype=np.int64)

    def sig_fn(texts):
        out_rows = []
        for t in texts:
            if t is None:
                out_rows.append(None)
                continue
            h = _rolling_shingle_hashes(t, shingle_k)
            # (h % p + i) * KNUTH < 2^63 — no overflow in int64.
            # r14: hoist the %p to the 1-D hash vector and run the
            # n×perm matrix ops in place — one temp allocation instead
            # of four and n modulos instead of n×perm, same integers
            m = (h % p)[:, None] + perms[None, :]
            m *= KNUTH
            m %= p
            out_rows.append(m.min(axis=0))
        return pd.Series(out_rows)

    # real (non-stringized) annotations: `from __future__ import
    # annotations` breaks pandas_udf type-hint inference otherwise
    sig_fn.__annotations__ = {"texts": pd.Series, "return": pd.Series}
    sig_udf = pandas_udf(sig_fn, "array<bigint>")

    return df.withColumn(out, sig_udf(F.col(text_col)))


def minhash_signature_expr(
    df: DataFrame,
    text_col: str,
    num_perm: int = 64,
    shingle_k: int = 9,
    out: str = "signature",
) -> DataFrame:
    """Pure-JVM expression twin of :func:`minhash_signature` (identical
    values; interpreted HOF evaluation — keep off the hot path)."""
    hashes = shingle_hashes(text_col, shingle_k)
    sig = F.transform(
        F.sequence(F.lit(0), F.lit(num_perm - 1)),
        lambda i: F.array_min(
            F.transform(
                F.col("__sh"),
                # reduce mod p BEFORE the multiply: (p + num_perm) * KNUTH
                # stays < 2^63 (ANSI overflow-safe)
                lambda h: ((h % F.lit(MERSENNE_31) + i) * F.lit(KNUTH))
                % F.lit(MERSENNE_31),
            )
        ),
    )
    return (
        df.withColumn("__sh", hashes)
        .withColumn(out, sig)
        .drop("__sh")
    )


def _banded_buckets(
    signed: DataFrame, id_col: str, signature: str, bands: int
) -> DataFrame:
    """The shared banding projection: ``(doc, band, bucket)`` with the
    portable md5-prefix bucket of each band's comma-joined values (see
    :func:`lsh_candidate_pairs` for why md5, not engine-native hash)."""
    from ..functions.hashing import md5_prefix_hash

    return signed.select(
        F.col(id_col).alias("doc"),
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.slice(
                    F.col(signature),
                    b * (F.size(F.col(signature)) / bands).cast("int") + 1,
                    (F.size(F.col(signature)) / bands).cast("int"),
                ),
            )
        ).alias("band", "band_sig"),
    ).select(
        "doc",
        "band",
        md5_prefix_hash(
            F.array_join(F.transform("band_sig", lambda x: x.cast("string")), ",")
        ).alias("bucket"),
    )


def _bucket_pairs(
    left: DataFrame,
    right: DataFrame,
    id_col: str,
    pair: tuple[str, str],
    where: Column | None = None,
) -> DataFrame:
    """The one shape of an LSH candidate pair: the distinct id pairs
    ``pair`` (left id, right id) of two banded frames ``(id_col, band,
    bucket)`` whose rows share a ``(band, bucket)`` — one shuffle on
    the bucket key, never a cross join. Any further columns of
    ``right`` ride along into the pairs (the streaming crawl tags its
    probe rows with their source); ``where`` filters the joined pairs
    by the output names (``id_a < id_b``: a self-join's pairs, each
    once)."""
    extra = [c for c in right.columns if c not in (id_col, "band", "bucket")]
    joined = left.select(F.col(id_col).alias(pair[0]), "band", "bucket").join(
        right.select(F.col(id_col).alias(pair[1]), "band", "bucket", *extra),
        ["band", "bucket"],
    )
    if where is not None:
        joined = joined.filter(where)
    return joined.select(*pair, *extra).distinct()


def lsh_candidate_pairs(
    signed: DataFrame,
    id_col: str,
    signature: str = "signature",
    bands: int = 16,
) -> DataFrame:
    """Band the signature and bucket-join: docs sharing any band land in
    the same bucket → candidate pair (a < b). One explode (×bands) +
    one shuffle on the band key + one self-join inside buckets.

    The bucket is the first 32 bits of ``md5`` over the band's values
    (comma-joined) — a PORTABLE compression of the band key (md5 is
    bit-identical in every engine), so a DuckDB oracle reproduces
    buckets, candidates, and survivors exactly; the former engine-native
    ``F.hash`` (Murmur3) kept this pipeline rows-only-checkable. A hash
    collision across different band values can only ADD a candidate
    pair, which exact-Jaccard verification then rejects — recall is
    unaffected, and both engines see the same collisions anyway.

    The banded projection is materialized (lineage-cut) before the
    self-join — without it, Spark recomputes the (expensive) signature
    lineage once per join side; the banded table is tiny (bands rows
    of 3 ints per doc).
    """
    banded = _banded_buckets(signed, id_col, signature, bands)
    # cut_lineage, not a bare persist(): the banded table is consumed
    # by both self-join sides and the result is lazy, so there is no
    # moment to unpersist — localCheckpoint blocks are instead reclaimed
    # by the ContextCleaner at frame GC (cluster posture: reliable
    # checkpoint files need cleanCheckpoints on — see checkpoint.py)
    banded = cut_lineage(banded, eager=True)
    return _bucket_pairs(
        banded, banded, "doc", ("id_a", "id_b"),
        where=F.col("id_a") < F.col("id_b"),
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    shingle_k: int = 5,
    threshold: float = 0.5,
    candidates: DataFrame | None = None,
    prefix_filter: bool = True,
) -> DataFrame:
    """Exact n-gram Jaccard similarity join.

    Without ``candidates``: self-join over an inverted index. With
    ``prefix_filter`` (default) the index holds only each doc's
    frequency-ordered PPJoin prefix — exact (see inline proof) and
    immune to heavy-hitter shingles; ``prefix_filter=False`` is the
    naive full index (the DuckDB-oracle shape). With ``candidates``
    (id_a, id_b): verify only those pairs — the 100 TB path after LSH.
    Returns (id_a, id_b, jaccard) with jaccard ≥ threshold, rounded to
    6 decimals for cross-engine comparability.
    """
    if candidates is not None:
        # verify ONLY the candidate pairs, shingling each candidate doc
        # ONCE: the union of the pair ids semi-joins ``df`` (a
        # semi-join ignores repeats, so no id distinct), and the
        # shingle frame is cut once for both verify join sides. The
        # candidate frame feeds the id union and the verify join, so
        # it is cut too (free on a frame already cut or mark_cut).
        # Shingling inside the row joined to each pair instead
        # shingles a doc in k pairs k times, reads ``df`` once per pair
        # side and runs the shingle UDF on the candidate frame's
        # partitioning: lsh_verify_pairs_t07 ran 15-20% slower that way
        # at sf0.1 (851 candidate docs in 567 pairs, k ≤ 7). The cuts
        # are checkpoints, not a bare persist(): the result is lazy,
        # so there is never a moment to unpersist (ContextCleaner
        # reclaims checkpoint blocks instead).
        candidates = cut_lineage(candidates, eager=True)
        ids = candidates.select(F.col("id_a").alias("doc")).union(
            candidates.select(F.col("id_b").alias("doc"))
        )
        needed = df.select(F.col(id_col).alias("doc"), text_col).join(
            ids, "doc", "leftsemi"
        )
        sh = shingle_hashes_pandas(needed, text_col, shingle_k).select(
            "doc", "sh", F.size("sh").alias("n_sh")
        )
        sh = cut_lineage(sh, eager=True)
        a = sh.select(F.col("doc").alias("id_a"), F.col("sh").alias("sh_a"), F.col("n_sh").alias("n_a"))
        b = sh.select(F.col("doc").alias("id_b"), F.col("sh").alias("sh_b"), F.col("n_sh").alias("n_b"))
        j = (
            candidates.join(a, "id_a").join(b, "id_b")
            .withColumn("inter", F.size(F.array_intersect("sh_a", "sh_b")))
            .withColumn(
                "jaccard",
                F.round(
                    F.col("inter") / (F.col("n_a") + F.col("n_b") - F.col("inter")), 6
                ),
            )
        )
        return j.filter(F.col("jaccard") >= threshold).select("id_a", "id_b", "jaccard")

    sh = shingle_hashes_pandas(
        df.select(F.col(id_col).alias("doc"), text_col), text_col, shingle_k
    ).select("doc", "sh", F.size("sh").alias("n_sh"))

    # cut_lineage for the same no-unpersist-moment reason as above
    sh = cut_lineage(sh, eager=True)
    if prefix_filter:
        # PPJoin prefix filtering — EXACT, no recall loss, three
        # stacked lossless filters (all under one global gram order,
        # ascending document frequency then gram value, so heavy-hitter
        # grams sit OUTSIDE every prefix and the candidate join never
        # builds the frequent-gram buckets that make the naive inverted
        # index quadratic):
        #
        # 1. PREFIX-PREFIX join (PPJoin Lemma 1): if |x∩y| ≥ α then
        #    the (|x|−α+1)-prefixes of BOTH sets share a gram. J ≥ t
        #    with the length filter (t·|x| ≤ |y| ≤ |x|/t) gives
        #    |x∩y| ≥ ⌈t·|x|⌉ and ≥ ⌈t·|y|⌉, so prefixes of length
        #    floor((1−t)·n)+1 on BOTH sides suffice — joining prefix
        #    against prefix instead of against the full index.
        # 2. AllPairs length filter: J ≥ t forces t·|y| ≤ |x| and
        #    t·|x| ≤ |y|.
        # 3. Positional filter: let g* be the smallest common gram in
        #    the global order (g* is in both prefixes — anything
        #    smaller in x than a common prefix gram has a smaller
        #    position). Every common gram sits at g*'s position or
        #    later in both docs, so |x∩y| ≤ 1 + min(|x|−pos_x(g*),
        #    |y|−pos_y(g*)); a match row whose upper bound is below
        #    minoverlap = ⌈t/(1+t)·(|x|+|y|)⌉ (the J≥t intersection
        #    lower bound) can be dropped — g*'s own row always
        #    survives for a true pair, so the pair is kept.
        #
        # The epsilons guard floors/ceils against FP error landing just
        # off an integer (erring toward keeping = safe).
        ex = sh.select("doc", "n_sh", F.explode("sh").alias("g"))
        freq = ex.groupBy("g").agg(F.count(F.lit(1)).alias("df_g"))
        w = Window.partitionBy("doc").orderBy(F.asc("df_g"), F.asc("g"))
        prefix = (
            ex.join(freq, "g")
            .withColumn("rn", F.row_number().over(w))
            .filter(
                F.col("rn")
                <= F.floor((1.0 - threshold) * F.col("n_sh") + 1e-9) + 1
            )
            .select("doc", "n_sh", "g", "rn")
        )
        pa = prefix.select(
            F.col("doc").alias("dp"), F.col("n_sh").alias("np"), "g",
            F.col("rn").alias("pp"),
        )
        # probe side: at high thresholds prefixes are short, so joining
        # prefix-vs-prefix collapses the match count (measured sf0.1:
        # t=0.8 end-to-end 25.7s → 10.7s). At low thresholds prefixes
        # approach the whole set and prefix² multiplicity per pair
        # exceeds prefix×1 — probe the full index instead (t=0.5:
        # prefix-prefix was ~20% slower). Both shapes are exact; 0.6 is
        # the measured crossover on the test corpora.
        prefix_probe = threshold >= 0.6
        probe = prefix if prefix_probe else ex
        pb = probe.select(
            F.col("doc").alias("de"), F.col("n_sh").alias("ne"), "g",
            *([F.col("rn").alias("pe")] if prefix_probe else []),
        )
        # pair condition: `dp != de` + least/greatest, NOT `dp < de` —
        # measured 2× faster end-to-end at t=0.5 (30s vs 65s at sf0.1)
        # despite emitting both orientations; empirically the `<`
        # variant degrades the downstream distinct/verify pipeline
        matches = (
            pa.join(pb, "g")
            .filter(F.col("dp") != F.col("de"))
            .filter(
                (F.col("ne") * threshold <= F.col("np") + 1e-9)
                & (F.col("np") * threshold <= F.col("ne") + 1e-9)
            )
        )
        if prefix_probe:
            # positional filter — only on the short-prefix branch: its
            # per-match arithmetic is paid on every join row, which the
            # low-threshold branch has ~100× more of and prunes ~nothing
            # from (measured: a net 2× slowdown at t=0.5)
            minoverlap = F.ceil(
                (threshold / (1.0 + threshold)) * (F.col("np") + F.col("ne")) - 1e-9
            )
            matches = matches.filter(
                F.lit(1)
                + F.least(F.col("np") - F.col("pp"), F.col("ne") - F.col("pe"))
                >= minoverlap
            )
        cand = (
            matches.select(
                F.least("dp", "de").alias("id_a"),
                F.greatest("dp", "de").alias("id_b"),
            )
            .distinct()
        )
        a = sh.select(F.col("doc").alias("id_a"), F.col("sh").alias("sh_a"), F.col("n_sh").alias("n_a"))
        b = sh.select(F.col("doc").alias("id_b"), F.col("sh").alias("sh_b"), F.col("n_sh").alias("n_b"))
        out = (
            cand.join(a, "id_a").join(b, "id_b")
            .withColumn("inter", F.size(F.array_intersect("sh_a", "sh_b")))
            .withColumn(
                "jaccard",
                F.round(
                    F.col("inter") / (F.col("n_a") + F.col("n_b") - F.col("inter")), 6
                ),
            )
        )
        return out.filter(F.col("jaccard") >= threshold).select("id_a", "id_b", "jaccard")

    ex = sh.select("doc", "n_sh", F.explode("sh").alias("shingle"))
    a = ex.select(F.col("doc").alias("id_a"), F.col("n_sh").alias("n_a"), "shingle")
    b = ex.select(F.col("doc").alias("id_b"), F.col("n_sh").alias("n_b"), "shingle")
    inter = (
        a.join(b, ["shingle"])
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b", "n_a", "n_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    out = inter.withColumn(
        "jaccard",
        F.round(F.col("inter") / (F.col("n_a") + F.col("n_b") - F.col("inter")), 6),
    )
    return out.filter(F.col("jaccard") >= threshold).select("id_a", "id_b", "jaccard")


def minhash_lsh_dedup(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_perm: int = 64,
    bands: int = 16,
    shingle_k: int = 9,
    threshold: float = 0.7,
    signed: DataFrame | None = None,
    candidates: DataFrame | None = None,
) -> DataFrame:
    """The full scale pipeline: signature → LSH candidates → exact
    Jaccard verify → survivors. Returns rows of ``df`` whose id is NOT
    a higher-id near-duplicate of a kept doc (min-id wins, transitive
    chains collapse to their min via the candidate graph edges).

    ``signed``: a precomputed :func:`minhash_signature` frame of
    ``df`` (same ``num_perm``/``shingle_k``) — sign once, reuse across
    the intra-batch dedup and the store dedup
    (:func:`minhash_dedup_against`), the incremental-crawl shape.
    ``candidates``: a precomputed ``(id_a, id_b)`` frame with
    ``id_a < id_b``, as :func:`lsh_candidate_pairs` returns (same
    ``bands``) — band once, reuse across consumers (r14: the
    cross-corpus candidate set is a parity slice of this same frame,
    see ``q_minhash_dedup``). It may cover a superset of ``df``'s docs
    (the crawl's within-batch slice covers the whole batch): a pair
    with a side outside ``df`` is ignored. With ``candidates``,
    ``df`` is neither signed nor probed and ``signed`` is unused.

    The result is lazy and not cut: a caller that feeds it to more
    than one action cuts it once (``cut_lineage`` or ``cut_count``),
    or each action re-runs the verify join.

    Default ``shingle_k=9``: with char 5-grams, unrelated docs drawn
    from one vocabulary share ~0.17 Jaccard, so 4-row LSH bands pass
    ~1% of ALL pairs as candidates (O(n²) verify — the scale killer);
    9-grams drop baseline similarity to ~0.03 while true near-dups stay
    ≥0.8, cutting candidates by ~100× for the same recall curve."""
    if candidates is None:
        if signed is None:
            # a single input file = a single partition = one core doing
            # all the signature math; spread it (at scale the scan is
            # already split). Probed only when signing HERE: with
            # precomputed signatures or candidates the per-row work is
            # done, and under AQE the .rdd partition probe runs every
            # exchange of a lazy input as hidden jobs.
            par = df.sparkSession.sparkContext.defaultParallelism
            if df.rdd.getNumPartitions() < par:
                df = df.repartition(par)
            signed = minhash_signature(df, text_col, num_perm, shingle_k)
        candidates = lsh_candidate_pairs(signed, id_col, bands=bands)
    # the verify inner-joins both sides of each pair to the shingles
    # of ``df``'s docs, so a pair with a side outside ``df`` (a doc an
    # earlier pass removed) removes nothing. No cut on losers and no distinct: the anti-join
    # is their only consumer and ignores repeats; a caller that fans the
    # result out cuts it
    verified = ngram_jaccard_pairs(
        df, text_col, id_col, shingle_k, threshold, candidates=candidates
    )
    return df.join(
        verified.select(F.col("id_b").alias(id_col)), id_col, "left_anti"
    )


# ------------------------------------------------------------- simhash

# second Horner base: each token gets TWO independent 40-bit rolling
# hashes (h1 base 257, h2 base 263); bit b of the fingerprint votes by
# parity(bit_count((h1 & R1[b]) ^ (h2 & R2[b]))) — a GF(2) mask-parity
# hash with md5-derived per-bit masks. Everything stays in exact int64
# (no overflow, ANSI-safe) and uses only portable primitives (bit_count,
# &, ^), so the numpy kernel, the Spark expression twin, AND a DuckDB
# oracle compute bit-identical fingerprints — unlike the previous
# xxhash64 token hash, which was JVM-only and rows-only-checkable.
SHINGLE_B2 = 263


def _simhash_masks(bits: int = 64, width: int = 40):
    """Deterministic md5-derived mask pairs, one per fingerprint bit
    (the same derivation pattern as the minhash permutation seeds)."""
    import hashlib

    m1, m2 = [], []
    for b in range(bits):
        d = hashlib.md5(f"simhash-mask:{b}".encode()).digest()
        m1.append(int.from_bytes(d[:8], "little") & ((1 << width) - 1))
        m2.append(int.from_bytes(d[8:], "little") & ((1 << width) - 1))
    return m1, m2


_POP8 = None  # lazy 8-bit popcount table (numpy < 2.0 has no bitwise_count)


def _popcount64(x):
    """Vectorized popcount of an int64 array via an 8-bit lookup."""
    import numpy as np

    global _POP8
    if _POP8 is None:
        _POP8 = np.array([bin(i).count("1") for i in range(256)], dtype=np.uint8)
    b = np.ascontiguousarray(x).view(np.uint8).reshape(*x.shape, 8)
    return _POP8[b].sum(axis=-1).astype(np.int64)


def _simhash_tokens(t: str):
    """Distinct whitespace tokens with Spark-split semantics:
    ``split(trim(text), '\\s+')`` — trim strips SPACES only, the split
    keeps leading/trailing empty tokens produced by other whitespace."""
    import re

    return list(dict.fromkeys(re.split(r"\s+", t.strip(" "), flags=re.ASCII)))


def simhash(
    df: DataFrame, text_col: str, out: str = "simhash", bits: int = 64
) -> DataFrame:
    """64-bit SimHash over distinct whitespace tokens: per bit position,
    majority vote (+1/-1) of a portable per-(token, bit) hash, packed
    into one BIGINT. Arrow-batched numpy kernel — the Horner folds
    vectorize over a left-zero-padded token matrix (leading zeros are
    Horner-neutral) and the 64 mask parities broadcast over all tokens
    at once. The nested-HOF expression twin (:func:`simhash_expr`) is
    value-identical but interpreted per element by Spark (~µs/element —
    the same argument as :func:`minhash_signature`); keep it off the
    hot path."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    m1l, m2l = _simhash_masks(bits)
    m1 = np.array(m1l, dtype=np.int64)
    m2 = np.array(m2l, dtype=np.int64)

    def sig_fn(texts):
        res = []
        for t in texts:
            if t is None:
                res.append(None)
                continue
            toks = _simhash_tokens(t)
            n = len(toks)
            maxlen = max((len(x) for x in toks), default=0)
            cp = np.zeros((n, maxlen), dtype=np.int64)
            for i, tok in enumerate(toks):
                if tok:
                    c = np.frombuffer(tok.encode("utf-32-le"), dtype="<u4")
                    cp[i, maxlen - len(c):] = c
            h1 = np.zeros(n, dtype=np.int64)
            h2 = np.zeros(n, dtype=np.int64)
            for j in range(maxlen):
                col = cp[:, j]
                h1 = (h1 * SHINGLE_B + col) % SHINGLE_P
                h2 = (h2 * SHINGLE_B2 + col) % SHINGLE_P
            g = _popcount64((h1[:, None] & m1[None, :]) ^ (h2[:, None] & m2[None, :])) & 1
            votes = (2 * g - 1).sum(axis=0)
            packed = (
                ((votes > 0).astype(np.uint64) << np.arange(bits, dtype=np.uint64))
                .sum(dtype=np.uint64)
                .astype(np.int64)
            )
            res.append(int(packed))
        return pd.Series(res, dtype="object")

    sig_fn.__annotations__ = {"texts": pd.Series, "return": pd.Series}
    return df.withColumn(out, pandas_udf(sig_fn, "bigint")(F.col(text_col)))


def _simhash_sql(text_expr: str, bits: int = 64, dialect: str = "spark") -> str:
    """The full SimHash as ONE SQL expression — shared by the Spark
    expression twin and the DuckDB oracle (dialect differences: lambda
    arrow syntax only). Value-identical to the numpy kernel."""
    m1, m2 = _simhash_masks(bits)
    m1s = ", ".join(str(v) for v in m1)
    m2s = ", ".join(str(v) for v in m2)
    tok_hash = (
        "aggregate(split({t}, ''), CAST(0 AS BIGINT),"
        " (acc, ch) -> (acc * {b} + ascii(ch)) % {p})"
    )
    if dialect == "duckdb":
        # DuckDB spellings: list_* functions, string_split_regex,
        # lambda syntax is the same arrow form; ord('') errors on
        # empty string so guard it; trim defaults to spaces like Spark
        tok_hash = (
            "list_reduce(list_prepend(CAST(0 AS BIGINT),"
            " list_transform(string_split({t}, ''),"
            " ch -> CAST(CASE WHEN ch = '' THEN 0 ELSE ord(ch) END AS BIGINT))),"
            " (acc, ch) -> (acc * {b} + ch) % {p})"
        )
        h1 = tok_hash.format(t="t", b=SHINGLE_B, p=SHINGLE_P)
        h2 = tok_hash.format(t="t", b=SHINGLE_B2, p=SHINGLE_P)
        # 1::BIGINT << 63 overflows in DuckDB — bit 63 is the int64 sign
        # bit, emitted as the literal min-bigint instead. NULL text must
        # yield a NULL fingerprint (the per-bit CASE would otherwise
        # fold the NULL votes into sig 0 — the kernel returns NULL).
        return f"""
        CASE WHEN {text_expr} IS NULL THEN NULL ELSE
        list_reduce(list_prepend(CAST(0 AS BIGINT),
          list_transform(range(0, {bits}), b ->
            CASE WHEN
              list_reduce(list_prepend(0,
                list_transform(
                  list_distinct(string_split_regex(trim({text_expr}), '\\s+')),
                  t -> CASE WHEN
                    bit_count(xor(
                      (({h1}) & ([{m1s}])[b + 1]),
                      (({h2}) & ([{m2s}])[b + 1])
                    )) % 2 = 1 THEN 1 ELSE -1 END)),
                (acc, v) -> acc + v) > 0
            THEN CASE WHEN b = 63 THEN -9223372036854775807 - 1
                      ELSE CAST(1 AS BIGINT) << b END
            ELSE CAST(0 AS BIGINT) END)),
          (sig, bit) -> sig | bit)
        END
        """
    h1 = tok_hash.format(t="t", b=SHINGLE_B, p=SHINGLE_P)
    h2 = tok_hash.format(t="t", b=SHINGLE_B2, p=SHINGLE_P)
    return f"""
    CASE WHEN {text_expr} IS NULL THEN NULL ELSE
    aggregate(
      zip_with(
        sequence(0, {bits - 1}),
        transform(sequence(0, {bits - 1}), b ->
          aggregate(
            transform(array_distinct(split(trim({text_expr}), '\\\\s+')), t ->
              CASE WHEN pmod(bit_count(
                (({h1}) & element_at(array({m1s}), b + 1))
                ^ (({h2}) & element_at(array({m2s}), b + 1))
              ), 2) = 1 THEN 1 ELSE -1 END),
            0,
            (acc, v) -> acc + v
          )
        ),
        (b, vote) -> CASE WHEN vote > 0 THEN shiftleft(CAST(1 AS BIGINT), b) ELSE CAST(0 AS BIGINT) END
      ),
      CAST(0 AS BIGINT),
      (sig, bit) -> sig | bit
    )
    END
    """


def simhash_expr(
    df: DataFrame, text_col: str, out: str = "simhash", bits: int = 64
) -> DataFrame:
    """Pure-JVM expression twin of :func:`simhash` (identical values;
    interpreted HOF evaluation — oracle/parity use only)."""
    return df.withColumn(out, F.expr(_simhash_sql(text_col, bits)))


def simhash_candidate_pairs(
    hashed: DataFrame,
    id_col: str,
    simhash_col: str = "simhash",
    max_hamming: int = 3,
    n_blocks: int = 1,
) -> DataFrame:
    """Near-dup pairs by Hamming distance ≤ ``max_hamming`` on the
    64-bit simhash. Pigeonhole banding: with 4 sub-bands of 16 bits,
    any pair within distance 3 shares at least one identical band →
    bucket-join on (band_idx, band_value), verify with bit_count(xor).

    A pair sharing k bands would surface k times; instead of a
    ``distinct`` (which shuffles the FULL pair blowup — quadratic in the
    duplicate-cluster sizes the corpus exists to find), each pair is
    emitted only from its FIRST matching band: keep a match on band i
    iff every band j < i mismatches — a pure row predicate on the two
    fingerprints riding the join, so multiplicity never hits a shuffle.

    Skew: a duplicate cluster of g docs shares a band value, putting
    g²/2 joined rows in ONE task — and AQE's skew split never fires
    because the partition is tiny in BYTES (the blowup is CPU).
    ``n_blocks > 1`` enables triangle blocking: each doc gets a
    pseudo-random block in [0, n_blocks); a pair in blocks (i ≤ j) is
    produced exactly once at join key (band, band_val, i, j), spreading
    a hot bucket over ~n_blocks²/2 tasks at the cost of ~n_blocks/2-fold
    replication of the banded frame. Measured on this corpus the
    replication overhead exceeds the skew win up to g≈1500 (hot-task
    join rows are cheap once the fingerprints are materialized), so
    blocking is OFF by default — turn it on when a single cluster's g²
    stops fitting one core's patience.
    """
    B = n_blocks
    bands = hashed.select(
        F.col(id_col).alias("doc"),
        F.col(simhash_col).alias("sh"),
        F.posexplode(
            F.expr(
                f"transform(sequence(0, 3), i -> (({simhash_col} >> (i * 16)) & 65535))"
            )
        ).alias("band", "band_val"),
    )
    # block id from xxhash64: works for ANY id type (string doc ids are
    # the common LLM-dedup shape — an integral-only hash would NULL out
    # and explode() would silently drop every row). Engine-native is
    # fine here: block assignment only partitions the work; the emitted
    # PAIR SET is identical for any assignment.
    bands = bands.withColumn(
        "blk",
        F.lit(0) if B == 1 else F.pmod(F.xxhash64(F.col("doc")), F.lit(B)).cast("int"),
    )
    # materialize once: the fingerprint kernel lineage would otherwise
    # re-run on BOTH join branches × the block replication factor (the
    # same reason lsh_candidate_pairs persists its banded frame);
    # checkpoint blocks are GC-reclaimed with the frame
    bands = cut_lineage(bands, eager=True)
    # left covers block pairs (blk, j ≥ blk); right covers (i ≤ blk, blk)
    a = bands.withColumn(
        "bj", F.explode(F.sequence(F.col("blk"), F.lit(B - 1)))
    ).withColumnRenamed("blk", "bi").alias("a")
    b = bands.withColumn(
        "bi", F.explode(F.sequence(F.lit(0), F.col("blk")))
    ).withColumnRenamed("blk", "bj").alias("b")

    def band_val(c, j):
        return F.shiftright(c, j * 16).bitwiseAND(F.lit(65535))

    earlier_clash = None
    for j in range(3):
        clash = (F.col("a.band") > j) & (
            band_val(F.col("a.sh"), j) == band_val(F.col("b.sh"), j)
        )
        earlier_clash = clash if earlier_clash is None else (earlier_clash | clash)
    same_block_ordered = (F.col("a.bi") != F.col("a.bj")) | (F.col("a.doc") < F.col("b.doc"))
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.bi") == F.col("b.bi"))
            & (F.col("a.bj") == F.col("b.bj"))
            & (F.col("a.doc") != F.col("b.doc")),
        )
        .filter(same_block_ordered & ~earlier_clash)
        .select(
            F.least(F.col("a.doc"), F.col("b.doc")).alias("id_a"),
            F.greatest(F.col("a.doc"), F.col("b.doc")).alias("id_b"),
            F.bit_count(F.col("a.sh").bitwiseXOR(F.col("b.sh"))).alias("hamming"),
        )
    )
    return cand.filter(F.col("hamming") <= max_hamming)


def dedup_paragraphs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    min_dup_docs: int = 2,
    sep: str = "\n",
) -> DataFrame:
    """Cross-document paragraph (boilerplate) removal — the standard
    pipeline pass that strips headers/footers/licenses repeated across
    documents (every occurrence of any paragraph appearing in
    ≥ ``min_dup_docs`` DISTINCT documents is dropped; within-document
    repeats alone don't qualify). Returns ``(id_col, text_col)`` with
    the cleaned text, one row per input document (documents reduced to
    nothing come back as the empty string — the caller decides whether
    to drop them, e.g. with a quality filter).

    Blank/whitespace-only paragraphs are never counted as boilerplate
    (two docs sharing a blank line must not strip blank lines
    corpus-wide) and so always survive.

    Plan: posexplode paragraphs → distinct-doc count per exact
    paragraph (md5 group key keeps the shuffle narrow — 16 bytes, not
    the paragraph text) → anti-join the boilerplate set → re-assemble
    with an order-pinned ``array_sort(collect_list(struct(pos, para)))``
    (``collect_list`` order is partition-dependent; the sort makes the
    result deterministic). Everything JVM-side; two shuffles (paragraph
    count + doc re-assembly) keyed on hash/doc id respectively. The
    anti-join strategy is left to AQE: the boilerplate set is usually
    tiny (auto-broadcast), but on templated corpora it can be a large
    fraction of all distinct paragraphs — a forced broadcast would OOM
    exactly on the workload this op targets."""
    # \Q...\E: Java-regex literal quoting — F.split takes a REGEX, and
    # separators like "|" must not be interpreted
    paras = df.select(
        F.col(id_col).alias("__doc"),
        F.posexplode(
            F.split(F.col(text_col), "\\Q" + sep + "\\E")
        ).alias("__pos", "__para"),
    ).withColumn("__h", F.md5(F.col("__para")))
    boiler = (
        paras.filter(F.trim(F.col("__para")) != "")
        .groupBy("__h")
        .agg(F.count_distinct("__doc").alias("__docs"))
        .filter(F.col("__docs") >= min_dup_docs)
        .select("__h")
    )
    kept = paras.join(boiler, "__h", "left_anti")
    rebuilt = (
        kept.groupBy("__doc")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct(F.col("__pos"), F.col("__para")))
                    ),
                    lambda s: s["__para"],
                ),
                sep,
            ).alias(text_col)
        )
        .select(F.col("__doc").alias(id_col), text_col)
    )
    # documents whose every paragraph was boilerplate drop out of the
    # groupBy — restore them as empty strings so row counts are stable
    all_docs = df.select(F.col(id_col)).distinct()
    return (
        all_docs.join(rebuilt, id_col, "left")
        .na.fill({text_col: ""})
    )


def minhash_dedup_against(
    new: DataFrame,
    reference: DataFrame,
    text_col: str,
    id_col: str,
    ref_id_col: str | None = None,
    num_perm: int = 64,
    bands: int = 16,
    shingle_k: int = 9,
    threshold: float = 0.7,
    new_signed: DataFrame | None = None,
    ref_signed: DataFrame | None = None,
    candidates: DataFrame | None = None,
) -> DataFrame:
    """Cross-corpus dedup (r5): drop rows of ``new`` that near-duplicate
    ANY ``reference`` document — the dedup-new-crawl-against-the-store
    shape (same contract as :func:`minhash_lsh_dedup`, but the kept set
    is decided against an external corpus instead of within one).
    ``new_signed``/``ref_signed``: precomputed signature frames
    carrying ``(id, signature)``.

    Same scale pipeline: both sides get MinHash signatures, the banded
    buckets join ACROSS corpora (one shuffle on the band key — never a
    cross join), candidate pairs verify with exact distinct-shingle
    Jaccard, and matched ``new`` ids anti-join away. The reference side
    is typically the big side: its banded projection is a narrow
    (id, band, bucket) frame, so at 100 TB it is precomputed once and
    persisted as the store's dedup index (:func:`minhash_band_index`)
    while each incoming batch computes only its own signatures.

    ``candidates``: a precomputed ``(__new_id, __ref_id)`` candidate
    frame — skips the signing, banding and bucket join entirely. Pass
    this when the caller already holds a candidate set: the bucket
    join of the batch's band rows against the persisted index (the
    streaming crawl, ``streaming/crawl.py``), or the intra-corpus
    :func:`lsh_candidate_pairs` frame sliced to cross-corpus pairs
    (identical signatures band to identical buckets, so the slice IS
    the cross-corpus candidate set — pinned in tests/test_r14_opt.py).
    Either way the store's TEXTS are read only for the candidate rows
    the verify join keeps."""
    from ..functions.text import char_shingles

    ref_id_col = ref_id_col or id_col
    if candidates is not None:
        if set(candidates.columns) != {"__new_id", "__ref_id"}:
            candidates = candidates.select("__new_id", "__ref_id")
        # cut_lineage is a no-op on an already-cut frame object
        # (mark_cut counts — see checkpoint.py), so a caller holding a
        # materialized candidate set pays nothing here
        cands = cut_lineage(candidates, eager=True)
    else:
        # spread single-file scans (the minhash_lsh_dedup posture).
        # Probed only on THIS branch (r15): with precomputed candidates
        # the heavy per-row work is gone, and under AQE the .rdd
        # partition probe itself materializes any exchange in the input
        # plan — a hidden job per probe. No cut: the candidate frame
        # has one consumer, the verify join, so the signature kernels
        # run once.
        par = new.sparkSession.sparkContext.defaultParallelism
        if new.rdd.getNumPartitions() < par:
            new = new.repartition(par)
        if reference.rdd.getNumPartitions() < par:
            reference = reference.repartition(par)
        if new_signed is None:
            sig_new = minhash_signature(
                new.select(F.col(id_col), F.col(text_col)), text_col, num_perm, shingle_k
            )
        else:
            sig_new = new_signed.select(F.col(id_col), F.col("signature"))
        if ref_signed is None:
            sig_ref = minhash_signature(
                reference.select(
                    F.col(ref_id_col).alias("__ref_id"), F.col(text_col)
                ),
                text_col,
                num_perm,
                shingle_k,
            )
        else:
            sig_ref = ref_signed.select(
                F.col(ref_id_col).alias("__ref_id"), F.col("signature")
            )
        cands = _bucket_pairs(
            _banded_buckets(sig_new, id_col, "signature", bands),
            _banded_buckets(sig_ref, "__ref_id", "signature", bands),
            "doc",
            ("__new_id", "__ref_id"),
        )
    # verify only the candidate pairs: join each pair to the texts of
    # both sides and shingle inside the joined row (unrounded
    # distinct-shingle Jaccard), so neither corpus is shingled outside
    # the candidates and no id distinct, semi-join or shingle cut runs
    # first. Each corpus is read once per pair side and a doc in k
    # pairs is shingled k times (k <= 7 on the sf0.1 documents):
    # char_shingles is a native expression, cheaper than the jobs the
    # shingle-once shape of ngram_jaccard_pairs(candidates=) spends
    matched = (
        cands.join(
            new.select(
                F.col(id_col).alias("__new_id"), F.col(text_col).alias("__t_a")
            ),
            "__new_id",
        )
        .join(
            reference.select(
                F.col(ref_id_col).alias("__ref_id"), F.col(text_col).alias("__t_b")
            ),
            "__ref_id",
        )
        .select(
            "__new_id",
            char_shingles("__t_a", shingle_k).alias("__sh_a"),
            char_shingles("__t_b", shingle_k).alias("__sh_b"),
        )
        .select(
            "__new_id",
            (
                F.size(F.array_intersect("__sh_a", "__sh_b")).cast("double")
                / F.size(F.array_union("__sh_a", "__sh_b"))
            ).alias("__j"),
        )
        .filter(F.col("__j") >= threshold)
        .select(F.col("__new_id").alias(id_col))
    )
    # no distinct and no broadcast hint: the anti-join ignores repeats,
    # and matched is bounded by the BATCH size, which a big crawl batch
    # can blow past the broadcast limit — AQE picks the strategy from
    # the materialized candidate stats at runtime
    return new.join(matched, id_col, "left_anti")


def minhash_band_index(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_perm: int = 64,
    bands: int = 16,
    shingle_k: int = 9,
) -> DataFrame:
    """The PERSISTABLE cross-corpus dedup index: the corpus's banded
    projection ``(id_col, band, bucket)`` — write it to parquet
    (partitioned by ``band`` if liked); each arriving crawl batch signs
    and bands only ITSELF and joins its band rows to the standing index
    on ``(band, bucket)``, and the joined id pairs are the
    ``candidates`` of :func:`minhash_dedup_against` (the streaming
    crawl, ``streaming/crawl.py``). At 100 TB the index is ``bands``
    rows of three scalars per document — a narrow fraction of the
    corpus — and appends to it are the kept batch's own banded rows
    (the same frame this returns for the batch)."""
    sig = minhash_signature(
        df.select(F.col(id_col), F.col(text_col)), text_col, num_perm, shingle_k
    )
    return _banded_buckets(sig, id_col, "signature", bands).withColumnRenamed(
        "doc", id_col
    )


# ------------------------------------------------ span-level dedup
#
# Doc-level dedup keeps one copy of near-identical DOCUMENTS; the
# other famous pipeline pass (Lee et al. 2022, "Deduplicating Training
# Data Makes Language Models Better") removes duplicated SUBSTRINGS —
# boilerplate headers, licenses, templated paragraphs — that repeat
# across otherwise-distinct documents. The paper builds a suffix
# array; the Spark-first form below is the equivalent fixed-window
# formulation: hash EVERY min_len-char window (stride 1), keep hashes
# occurring ≥ min_count times corpus-wide, merge each doc's surviving
# windows into maximal intervals with one island-detection window
# pass, and excise them with a pure-codegen fold. O(total chars) rows
# through one groupBy — the same asymptotic footprint as the suffix
# array, in shuffle-friendly form.


def duplicate_spans(
    df: DataFrame,
    text_col: str,
    id_col: str,
    min_len: int = 50,
    min_count: int = 2,
) -> DataFrame:
    """Maximal duplicated-substring intervals per document:
    ``(id_col, start, end)`` — 1-based inclusive char positions of
    every region covered by ``min_len``-char windows whose content
    occurs ≥ ``min_count`` times in the corpus (duplicates WITHIN one
    document count too — self-repetition is boilerplate all the same).
    Window hashes are a DOUBLE portable rolling polynomial (two
    independent Horner bases over the same 40-bit prime — an 80-bit
    effective key, so hash-collision false spans are negligible even
    at trillions of windows; one vectorized Arrow pass per document
    instead of an md5 per window; a DuckDB twin reproduces the
    intervals from the same folds)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    k = min_len

    def wh_fn(texts):
        out = []
        for t in texts:
            if t is None or len(t) < k:
                out.append([])
            else:
                cp = np.frombuffer(t.encode("utf-32-le"), dtype="<u4").astype(
                    np.int64
                )
                m = len(cp) - k + 1
                h1 = np.zeros(m, dtype=np.int64)
                h2 = np.zeros(m, dtype=np.int64)
                for j in range(k):
                    w = cp[j : j + m]
                    h1 = (h1 * SHINGLE_B + w) % SHINGLE_P
                    h2 = (h2 * SHINGLE_B2 + w) % SHINGLE_P
                out.append([{"h1": int(a), "h2": int(b)} for a, b in zip(h1, h2)])
        return pd.Series(out)

    wh_fn.__annotations__ = {"texts": pd.Series, "return": pd.Series}
    wh_udf = pandas_udf(wh_fn, "array<struct<h1:bigint,h2:bigint>>")
    wins = df.select(
        F.col(id_col), F.posexplode(wh_udf(F.col(text_col))).alias("__i", "__h")
    ).select(
        id_col,
        (F.col("__i") + 1).alias("pos"),
        F.col("__h.h1").alias("__h1"),
        F.col("__h.h2").alias("__h2"),
    )
    dup_hashes = (
        wins.groupBy("__h1", "__h2")
        .agg(F.count(F.lit(1)).alias("__c"))
        .filter(F.col("__c") >= min_count)
        .select("__h1", "__h2")
    )
    dup_wins = wins.join(dup_hashes, ["__h1", "__h2"], "leftsemi")
    w = Window.partitionBy(id_col).orderBy("pos")
    islands = (
        dup_wins.withColumn("__prev", F.lag("pos").over(w))
        .withColumn(
            "__brk",
            F.when(
                F.col("__prev").isNull() | (F.col("pos") - F.col("__prev") > k),
                1,
            ).otherwise(0),
        )
        .withColumn(
            "__island", F.sum("__brk").over(w.rowsBetween(Window.unboundedPreceding, 0))
        )
    )
    return (
        islands.groupBy(id_col, "__island")
        .agg(
            F.min("pos").alias("start"),
            (F.max("pos") + F.lit(k - 1)).alias("end"),
        )
        .select(id_col, "start", "end")
    )


def remove_duplicate_spans(
    df: DataFrame,
    text_col: str,
    id_col: str,
    min_len: int = 50,
    min_count: int = 2,
    out: str | None = None,
) -> DataFrame:
    """Excise every duplicated span from the text (the paper's
    destructive pass): the kept text is the concatenation of the
    between-span gaps — a pure-codegen ``aggregate`` fold over each
    doc's sorted intervals (cursor + accumulated string), no UDF.
    Documents without duplicated spans pass through unchanged."""
    out = out or text_col
    spans = duplicate_spans(df, text_col, id_col, min_len, min_count)
    per_doc = spans.groupBy(id_col).agg(
        F.array_sort(
            F.collect_list(F.struct("start", "end"))
        ).alias("__spans")
    )
    joined = df.join(per_doc, id_col, "left")
    rebuilt = F.expr(
        f"""
        CASE WHEN __spans IS NULL THEN {text_col} ELSE
          concat(
            aggregate(
              __spans,
              struct(CAST(1 AS INT) AS cursor, CAST('' AS STRING) AS acc),
              (st, sp) -> struct(
                CAST(sp.end + 1 AS INT) AS cursor,
                concat(st.acc,
                       substring({text_col}, st.cursor,
                                 greatest(0, sp.start - st.cursor))) AS acc
              )
            ).acc,
            substring({text_col},
                      aggregate(
                        __spans,
                        struct(CAST(1 AS INT) AS cursor, CAST('' AS STRING) AS acc),
                        (st, sp) -> struct(
                          CAST(sp.end + 1 AS INT) AS cursor,
                          concat(st.acc,
                                 substring({text_col}, st.cursor,
                                           greatest(0, sp.start - st.cursor))) AS acc
                        )
                      ).cursor,
                      length({text_col})))
        END
        """
    )
    # only displace the source column when writing in place — a
    # distinct ``out`` keeps the original text beside the excised copy
    cols = [c for c in df.columns if c != out]
    return joined.select(*cols, rebuilt.alias(out))


def ngram_containment_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    shingle_k: int = 5,
    threshold: float = 0.8,
    candidates: DataFrame | None = None,
) -> DataFrame:
    """Exact n-gram CONTAINMENT join: pairs with
    ``|A∩B| / min(|A|, |B|) ≥ threshold`` — the asymmetric companion of
    :func:`ngram_jaccard_pairs` that catches sub-document duplication
    (a short doc quoted inside a long one has high containment but low
    Jaccard, so symmetric dedup never sees it).

    With ``candidates`` (id_a, id_b): verify only those pairs — the
    production path after LSH at scale. Without: the naive inverted-
    index self-join — containment admits NO length filter (the small
    side can be arbitrarily smaller) and hence no per-doc PPJoin
    prefix, so the exact self-join shape is quarantined to
    oracle/verify duty exactly like the exact Jaccard join. Returns
    ``(id_a, id_b, containment)`` rounded to 6 decimals (cross-engine
    comparability)."""
    cont = lambda i, na, nb: F.round(  # noqa: E731
        i.cast("double") / F.least(na, nb), 6
    )
    if candidates is not None:
        candidates = cut_lineage(candidates, eager=True)
        ids = (
            candidates.select(F.col("id_a").alias("doc"))
            .union(candidates.select(F.col("id_b").alias("doc")))
            .distinct()
        )
        needed = df.select(F.col(id_col).alias("doc"), text_col).join(
            ids, "doc", "leftsemi"
        )
        sh = shingle_hashes_pandas(needed, text_col, shingle_k).select(
            "doc", "sh", F.size("sh").alias("n_sh")
        )
        sh = cut_lineage(sh, eager=True)
        a = sh.select(
            F.col("doc").alias("id_a"), F.col("sh").alias("sh_a"),
            F.col("n_sh").alias("n_a"),
        )
        b = sh.select(
            F.col("doc").alias("id_b"), F.col("sh").alias("sh_b"),
            F.col("n_sh").alias("n_b"),
        )
        j = (
            candidates.join(a, "id_a").join(b, "id_b")
            .withColumn("__i", F.size(F.array_intersect("sh_a", "sh_b")))
            .withColumn(
                "containment", cont(F.col("__i"), F.col("n_a"), F.col("n_b"))
            )
        )
        return j.filter(F.col("containment") >= threshold).select(
            "id_a", "id_b", "containment"
        )
    # explode_outer + NOT NULL filter: the rows of a plain explode
    # (hashes are never NULL), but one shingle-kernel evaluation — for
    # a plain explode of the UDF's attribute Spark pushes an inferred
    # size/isnotnull filter under the projection and runs it twice
    sh = (
        shingle_hashes_pandas(
            df.select(F.col(id_col).alias("doc"), text_col), text_col, shingle_k
        )
        .select("doc", F.explode_outer("sh").alias("g"), F.size("sh").alias("n_sh"))
        .filter(F.col("g").isNotNull())
    )
    sh = cut_lineage(sh, eager=True)
    a = sh.select(
        F.col("doc").alias("id_a"), "g", F.col("n_sh").alias("n_a")
    )
    b = sh.select(
        F.col("doc").alias("id_b"), "g", F.col("n_sh").alias("n_b")
    )
    inter = (
        a.join(b, "g")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b", "n_a", "n_b")
        .agg(F.count(F.lit(1)).alias("__i"))
    )
    return inter.withColumn(
        "containment", cont(F.col("__i"), F.col("n_a"), F.col("n_b"))
    ).filter(F.col("containment") >= threshold).select(
        "id_a", "id_b", "containment"
    )
