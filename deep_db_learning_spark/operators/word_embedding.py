"""In-engine TRAINED word embeddings — the learned half of N6.

The reference embeds text with GloVe vectors + bag pooling
(``/root/reference/db_transformer/data/ctu_dataset.py:43-52`` —
``GloveTextEmbedding`` = pretrained word vectors, sentence vector =
pooled token vectors). The pooling half has lived in
:func:`~.embedder.text_embedding` since r2; the LEARNED half was a
standing gap (no torch / sentence-transformers in this container), so
this module trains the word vectors themselves, GloVe-STYLE, with the
engine's own deterministic machinery:

1. **Corpus statistics (the data-scale stage, fully distributed)** —
   one tokenization scan builds directed adjacent-pair co-occurrence
   counts ``n(a→b)`` with the ``dsir._grams`` two-pass bigram trick
   (pure codegen ``regexp_extract_all``; no per-element lambdas), one
   ``groupBy`` folds them to exact BIGINTs. This is exactly GloVe's
   decomposition: the model never touches the corpus again — it
   factorizes the co-occurrence matrix (Pennington et al. 2014).
2. **Bounded model state** — the vocabulary is the top-``vocab_size``
   tokens by ``(count DESC, token ASC)`` and the pair matrix is
   ``≤ V²`` rows, both collected under loud caps (the ``lm.py``
   bounded-top-V posture: V=64 default → ≤4096 pair rows of driver
   state, corpus-size-independent).
3. **Descent (shared verbatim with the twin)** — full-batch GD on
   ``Σ (uₐ·c_b − log1p(n_ab))²`` over observed pairs, in the
   ``quality_filter`` arithmetic regime: vectors are dec9 decimals,
   the forward dot and the gradient folds are EXACT decimal arithmetic
   (dec9×dec9 products at scale 18, order-independent sums), the
   residual crosses through float64 once per pair via the shared
   shortest-repr ``_dec9`` cast, and the update is one shared float
   expression re-quantized dec9 — so :func:`_descend` is
   bit-reproducible from the integer counts alone, and the pytest /
   driver-oracle twins re-fit through the SAME function from
   DuckDB-computed counts (the ``fit_quality_filter_py`` regime).
4. **Init** — pinned md5 draws per ``(token, component)`` (the
   ``plans/stack.py`` pinned-init-draw rule): deterministic,
   engine-independent, no RNG object.

Scoring paths:

- :func:`trained_model_fn` adapts a fit model to the
  ``text_embedding(model_fn=)`` seam (``operators/embedder.py``) —
  sum-pooled token vectors per document in one Arrow kernel, i.e. a
  REAL learned encoder through the N6 seam end-to-end. Sum pooling
  (not mean) keeps every accumulation exact-in-decimal on the
  relational twin below; cosine downstream is scale-invariant, so
  sum- and mean-pooled rankings are identical.
- :func:`embed_documents` is the relational twin of the same encoder:
  explode tokens → broadcast-join the ``(token, component, dec9)``
  vector table → EXACT decimal per-component fold — the
  oracle-hashable path (DuckDB replays it with the fit vectors
  inlined as decimal literals and an order-independent DECIMAL SUM).

100 TB posture: the corpus is touched by exactly two scans total (the
count scan at fit time, the embedding scan at scoring time); model
state is ``O(V·dim)`` decimals; nothing ranks, windows, or collects
over documents.
"""

from __future__ import annotations

import hashlib
import math
from dataclasses import dataclass
from decimal import Decimal

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.exact_agg import DECIMAL_TYPE
from ..plans.train_oracle import _dec9

# lr/epochs picked by measured trajectory (r13): with degree-mean
# gradients, lr=0.15 descends 10643→200 (sf0.001) / 10464→141 (sf0.01)
# by epoch 8 and stays bounded after; 0.05 is 4× slower, 0.3 diverges
WE_CONFIG = {"dim": 8, "vocab_size": 64, "epochs": 8, "lr": 0.15}

# loud cap on collected driver state (vocab + pair matrix); vocab_size
# above it is a config error, not a silent truncation. Applies to the
# DRIVER-resident descent only — fit_word_embedding_frames keeps the
# pair matrix and the per-epoch gradient folds distributed and is
# gated by FRAME_MAX_VOCAB instead (r14, VERDICT r13 task 3).
MAX_VOCAB = 256

# frame-resident fit cap: bounds the FINAL model collect (V·dim dec9
# values — the broadcast side of every scoring path) and the vocab
# list, NOT the descent state (which stays distributed). 200k tokens
# × dim 8 ≈ 1.6M decimals ≈ tens of MB — the practical broadcast
# ceiling; real corpora want 1e4–1e5 (the reference's GloVe tables
# are 400k×300 but live in files, not broadcasts).
FRAME_MAX_VOCAB = 200_000


def check_vocab_size(vocab_size: int) -> int:
    """The MAX_VOCAB gate, shared by EVERY entry point that collects
    the pair matrix (batch fit, DuckDB twin, streaming refit) — the
    cap guards the collect, so it must sit with the collect callers,
    not just one of them (r13 review finding)."""
    if vocab_size > MAX_VOCAB:
        raise ValueError(
            f"vocab_size={vocab_size} > MAX_VOCAB={MAX_VOCAB}: the pair "
            "matrix is V² driver rows — raise MAX_VOCAB consciously"
        )
    return vocab_size


@dataclass
class WEModel:
    """Fit word vectors: ``vocab`` in code order, center vectors ``U``
    and context vectors ``C`` (token → list of dec9 ``Decimal``), the
    per-epoch exact squared-residual loss sums (the bit-parity pin),
    and the observed-pair count."""

    vocab: list
    U: dict
    C: dict
    losses: list
    n_pairs: int
    dim: int


def _init_vec(kind: str, token: str, dim: int) -> list:
    """Pinned init draw: component k of token t is
    ``((md5(f"we|{kind}|{t}|{k}")[:8] / 2³²) − 0.5) · 0.2`` quantized
    dec9 — deterministic and engine-independent (no RNG object; the
    ``stack.py`` pinned-draw rule)."""
    out = []
    for k in range(dim):
        h = int(
            hashlib.md5(f"we|{kind}|{token}|{k}".encode()).hexdigest()[:8],
            16,
        )
        out.append(_dec9((h / 2**32 - 0.5) * 0.2))
    return out


def _pair_target(dn) -> float:
    """Shared target arithmetic for one (a, b) pair:
    ``y = log1p(Σ_d n_d / d)`` — GloVe's 1/distance co-occurrence
    weighting (Pennington et al. 2014 §4: a pair ``d`` tokens apart
    contributes ``1/d`` to ``X_ab``) folded in FIXED order (``d``
    ascending, plain float adds) so every path — driver fit, DuckDB
    twin, frame-resident fit — produces the identical float from the
    identical integer counts. ``dn`` is an iterable of ``(d, n)``;
    window-1 reduces to ``log1p(n)`` exactly (``n/1 == float(n)``)."""
    acc = 0.0
    for d, n in sorted(dn):
        acc += n / d
    return math.log1p(acc)


def _descend(
    vocab: list,
    pair_counts: dict,
    dim: int,
    epochs: int,
    lr: float,
) -> WEModel:
    """Window-1 driver descent: targets ``log1p(n)`` per adjacent
    pair (via the shared :func:`_pair_target`), then
    :func:`_descend_targets` — the loop all paths share."""
    targets = {
        ab: _pair_target([(1, n)]) for ab, n in pair_counts.items()
    }
    return _descend_targets(vocab, targets, dim, epochs, lr)


def _descend_targets(
    vocab: list,
    targets: dict,
    dim: int,
    epochs: int,
    lr: float,
) -> WEModel:
    """Full-batch GD on the co-occurrence factorization, shared
    VERBATIM by the engine fit and every twin (the ``_lr_update``
    rule): given identical targets, the fit is bit-identical.

    Per epoch, per observed pair (a, b): forward ``z = Σ u_ak·c_bk``
    exact Decimal; residual ``r = _dec9(float(z) − y)``
    (ONE float crossing, shortest-repr re-quantized); gradient folds
    ``g_u[a][k] += r·c_bk``, ``g_c[b][k] += r·u_ak`` exact Decimal;
    loss ``Σ r²`` exact Decimal. Updates
    ``u' = _dec9(float(u) − lr·2·float(g)/deg(a))`` — the gradient is
    MEAN-normalized by the word's observed-pair degree (an exact
    integer), so the effective step is curvature-bounded no matter
    how many pairs a hub word participates in (fixed-lr full-batch GD
    on the raw sum diverges once V grows — measured, r13); one shared
    float expression, re-quantized so the next epoch folds exact
    decimals again."""
    U = {t: _init_vec("u", t, dim) for t in vocab}
    C = {t: _init_vec("c", t, dim) for t in vocab}
    deg_u = {t: 0 for t in vocab}
    deg_c = {t: 0 for t in vocab}
    for a, b in targets:
        deg_u[a] += 1
        deg_c[b] += 1
    losses = []
    for _ in range(epochs):
        g_u = {t: [Decimal(0)] * dim for t in vocab}
        g_c = {t: [Decimal(0)] * dim for t in vocab}
        loss = Decimal(0)
        for (a, b), y in sorted(targets.items()):
            ua, cb = U[a], C[b]
            z = Decimal(0)
            for k in range(dim):
                z += ua[k] * cb[k]
            r = _dec9(float(z) - y)
            loss += r * r
            ga, gb = g_u[a], g_c[b]
            for k in range(dim):
                ga[k] += r * cb[k]
                gb[k] += r * ua[k]
        losses.append(loss)
        for t in vocab:
            ut, ct, gut, gct = U[t], C[t], g_u[t], g_c[t]
            du, dc = max(deg_u[t], 1), max(deg_c[t], 1)
            for k in range(dim):
                ut[k] = _dec9(float(ut[k]) - lr * 2.0 * float(gut[k]) / du)
                ct[k] = _dec9(float(ct[k]) - lr * 2.0 * float(gct[k]) / dc)
    return WEModel(
        vocab=list(vocab), U=U, C=C, losses=losses,
        n_pairs=len(targets), dim=dim,
    )


def _norm_col(text_col: str):
    """Space-normalized lowercased text with NO leading/trailing
    whitespace. The outer ``trim`` runs AFTER ``\\s+ → ' '``: Spark's
    ``trim`` strips only spaces, so a leading tab/newline would
    otherwise survive as a leading space and break the two-pass
    bigram trick below (pass 2's ``^\\S+ `` anchor would not fire and
    the first pair would double-count while alternating pairs drop —
    r13 review finding, verified divergent from the DuckDB twin)."""
    return F.trim(
        F.regexp_replace(F.lower(F.col(text_col)), r"\s+", " ")
    )


def _tokens_col(text_col: str):
    """Lowercased whitespace tokens as an array column (one
    regexp_extract_all over the normalized text; DuckDB twin:
    ``regexp_split_to_array(lower(trim(text)), '\\s+')`` with ``''``
    filtered — token lists identical)."""
    return F.regexp_extract_all(_norm_col(text_col), F.lit(r"\S+"), 0)


def _pairs_df(docs: DataFrame, text_col: str) -> DataFrame:
    """Directed adjacent-pair frame ``(a, b)`` — one row per
    consecutive token pair, via the two-pass non-overlapping bigram
    trick (``dsir._grams``): pass 2 drops the leading token, so
    between the passes every consecutive pair appears exactly once,
    with NO higher-order per-element lambdas. Input normalization
    (:func:`_norm_col`) guarantees no leading whitespace, which the
    trick's ``^\\S+ `` anchor requires."""
    norm = _norm_col(text_col)
    b1 = F.regexp_extract_all(norm, F.lit(r"\S+ \S+"), 0)
    b2 = F.regexp_extract_all(
        F.regexp_replace(norm, r"^\S+ ", ""), F.lit(r"\S+ \S+"), 0
    )
    g = docs.select(
        F.explode(F.concat(b1, b2)).alias("__bg")
    )
    sp = F.split(F.col("__bg"), " ", 2)
    return g.select(sp.getItem(0).alias("a"), sp.getItem(1).alias("b"))


def _pairs_d_df(
    docs: DataFrame,
    text_col: str,
    window: int,
    materialize: bool = True,
    tokens: DataFrame | None = None,
) -> DataFrame:
    """Directed pair frame ``(a, b, d)`` for every token distance
    ``d ∈ 1..window`` — one row per ordered occurrence of tokens
    ``i`` and ``i+d``. Pure codegen collection ops (``arrays_zip`` of
    the token array against its own ``d``-shifted suffix — NO
    higher-order per-element lambdas, the ``stopword_ratio`` lesson;
    no self-join — the zip never shuffles), one union branch per
    distance. With ``materialize`` (default) the token projection is
    lineage-cut first, so the corpus is tokenized ONCE and the
    ``window`` branches re-read the materialized arrays; pass
    ``False`` for window-1 one-shot uses. ``d=1`` produces the same
    pair multiset as :func:`_pairs_df`'s regex trick (pinned in
    tests/test_word_embedding.py).

    ``tokens``: an ALREADY-MATERIALIZED token-array frame with column
    ``__t`` (r14 — one corpus tokenization shared across the vocab
    scan, the pair branches, and the document encoder; see
    :func:`fit_word_embedding`). When given, the internal tokenize +
    cut is skipped entirely."""
    if window < 1:
        raise ValueError(f"window must be >= 1, got {window}")
    if tokens is not None:
        base = tokens.select("__t")
    else:
        base = docs.select(_tokens_col(text_col).alias("__t"))
        if materialize and window > 1:
            from ..checkpoint import cut_lineage

            base = cut_lineage(base, eager=True)
    out = None
    for d in range(1, window + 1):
        branch = (
            base.withColumn(
                "__s",
                F.slice(
                    "__t",
                    F.lit(d + 1),
                    F.greatest(F.size("__t") - d, F.lit(0)),
                ),
            )
            .select(F.explode(F.arrays_zip("__t", "__s")).alias("__p"))
            .select(
                F.col("__p.__t").alias("a"),
                F.col("__p.__s").alias("b"),
                F.lit(d).alias("d"),
            )
            .filter(F.col("b").isNotNull())
        )
        out = branch if out is None else out.unionByName(branch)
    return out


def fit_word_embedding(
    docs: DataFrame,
    text_col: str = "text",
    *,
    dim: int = WE_CONFIG["dim"],
    vocab_size: int = WE_CONFIG["vocab_size"],
    epochs: int = WE_CONFIG["epochs"],
    lr: float = WE_CONFIG["lr"],
    window: int = 1,
    tokens: DataFrame | None = None,
) -> WEModel:
    """Fit word vectors from the corpus: ONE tokenization scan →
    exact-integer co-occurrence counts (distributed) → bounded
    collects (top-V vocab + ≤V² weighted-pair rows, loud cap) →
    :func:`_descend_targets`. ``window`` widens co-occurrence to
    token distances ``1..window`` with GloVe's 1/d weighting
    (:func:`_pair_target`); the default 1 is the original
    adjacent-pair fit, bit-identical to r13.

    ``tokens``: an ALREADY-MATERIALIZED token-array frame with column
    ``__t`` (one row per doc), e.g. ``docs.select(_tokens_col(text))``
    lineage-cut by the caller. The vocab scan and the pair branches
    then read the materialized arrays instead of re-tokenizing the
    corpus (r14 — token lists identical, so counts and the fitted
    model are bit-equal; a caller that also embeds documents shares
    the same frame three ways)."""
    check_vocab_size(vocab_size)
    if tokens is not None:
        toks = tokens.select(F.explode("__t").alias("tok")).filter(
            F.col("tok") != ""
        )
    else:
        toks = docs.select(
            F.explode(_tokens_col(text_col)).alias("tok")
        ).filter(F.col("tok") != "")
    vocab_rows = (
        toks.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("tok"))
        .limit(vocab_size)
        .collect()
    )
    vocab = sorted(r["tok"] for r in vocab_rows)
    if window == 1 and tokens is None:
        pairs = (
            _pairs_df(docs, text_col)
            .filter(F.col("a").isin(vocab) & F.col("b").isin(vocab))
            .groupBy("a", "b")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        )
        pair_counts = {(r["a"], r["b"]): r["n"] for r in pairs}
        return _descend(vocab, pair_counts, dim, epochs, lr)
    rows = (
        _pairs_d_df(docs, text_col, window, tokens=tokens)
        .filter(F.col("a").isin(vocab) & F.col("b").isin(vocab))
        .groupBy("a", "b", "d")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    by_pair: dict = {}
    for r in rows:
        by_pair.setdefault((r["a"], r["b"]), []).append((r["d"], r["n"]))
    targets = {ab: _pair_target(dn) for ab, dn in by_pair.items()}
    return _descend_targets(vocab, targets, dim, epochs, lr)


def fit_word_embedding_twin(
    con,
    docs_rel: str,
    text_col: str = "text",
    *,
    dim: int = WE_CONFIG["dim"],
    vocab_size: int = WE_CONFIG["vocab_size"],
    epochs: int = WE_CONFIG["epochs"],
    lr: float = WE_CONFIG["lr"],
    window: int = 1,
) -> WEModel:
    """DuckDB twin of :func:`fit_word_embedding`: the SAME counts
    computed by DuckDB SQL (``list_zip(l, l[d+1:])`` over the
    1-indexed token array = directed pairs at distance ``d``),
    targets via the SAME :func:`_pair_target`, descended through the
    SAME :func:`_descend_targets` — bit-equal model by construction
    once the counts match (the cross-engine content of the pin IS
    the counts)."""
    check_vocab_size(vocab_size)
    if window < 1:
        raise ValueError(f"window must be >= 1, got {window}")
    toks_sql = (
        f"regexp_split_to_array(lower(trim({text_col})), '\\s+')"
    )
    vocab = sorted(
        r[0]
        for r in con.execute(
            f"""
            SELECT tok FROM (
              SELECT tok, count(*) AS n FROM (
                SELECT unnest({toks_sql}) AS tok FROM {docs_rel})
              WHERE tok <> '' GROUP BY tok
              ORDER BY n DESC, tok ASC LIMIT {int(vocab_size)})
            """
        ).fetchall()
    )
    vlit = ", ".join("'" + t.replace("'", "''") + "'" for t in vocab)
    branches = "\nUNION ALL\n".join(
        f"""
        SELECT p[1] AS a, p[2] AS b, {d} AS d
        FROM (
          SELECT unnest(list_zip(l, l[{d + 1}:])) AS p
          FROM (SELECT {toks_sql} AS l FROM {docs_rel}))
        WHERE p[2] IS NOT NULL AND p[1] <> ''
        """
        for d in range(1, window + 1)
    )
    rows = con.execute(
        f"""
        SELECT a, b, d, count(*) AS n FROM ({branches})
        WHERE a IN ({vlit}) AND b IN ({vlit})
        GROUP BY 1, 2, 3
        """
    ).fetchall()
    by_pair: dict = {}
    for a, b, d, n in rows:
        by_pair.setdefault((a, b), []).append((d, n))
    targets = {ab: _pair_target(dn) for ab, dn in by_pair.items()}
    return _descend_targets(vocab, targets, dim, epochs, lr)


def fit_word_embedding_frames(
    docs: DataFrame,
    text_col: str = "text",
    *,
    dim: int = WE_CONFIG["dim"],
    vocab_size: int = WE_CONFIG["vocab_size"],
    epochs: int = WE_CONFIG["epochs"],
    lr: float = WE_CONFIG["lr"],
    window: int = 1,
) -> WEModel:
    """Frame-resident descent (r14, VERDICT r13 task 3): the SAME
    trajectory as :func:`fit_word_embedding` — bit-for-bit, pinned —
    with the V²-bounded pair matrix and every per-epoch gradient fold
    DISTRIBUTED, lifting the driver fit's ``MAX_VOCAB`` cap to
    :data:`FRAME_MAX_VOCAB` (the final ``O(V·dim)`` model collect,
    the only driver state).

    Layout:

    - ``pairs (a, b, y)`` — distinct in-vocab pairs with the
      1/d-weighted log1p target (:func:`_pair_target` in a vectorized
      Arrow kernel), materialized ONCE;
    - ``U``/``C`` ``(tok, vec array<dec9>)`` — one row per token,
      initialized by the shared pinned md5 draw;
    - per epoch: ``pairs ⨝ broadcast(U) ⨝ broadcast(C)`` (no
      shuffle), one Arrow kernel computes the residual ``r`` (exact
      decimal dot → the single shared float crossing → dec9) and
      ``r²``; the epoch loss is one exact ``SUM(decimal(38,18))``;
      gradients fold per token via ``applyInPandas`` groups (exact
      Decimal ``Σ r·vec`` — associative, order-independent, so the
      distributed fold is bit-equal to the driver loop); the update
      kernel applies the shared
      ``u' = _dec9(float(u) − lr·2·float(g)/deg)`` expression.

    Per-epoch cost is V²-bounded and corpus-independent; the corpus
    itself is touched only by the count stage (one tokenization scan,
    re-read from a lineage cut per distance branch). Shuffles per
    epoch: exactly two (the two gradient groupBys over distinct-pair
    rows)."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    from ..checkpoint import cut_lineage

    if vocab_size > FRAME_MAX_VOCAB:
        raise ValueError(
            f"vocab_size={vocab_size} > FRAME_MAX_VOCAB={FRAME_MAX_VOCAB}: "
            "the final model collect/broadcast is V·dim values — raise "
            "FRAME_MAX_VOCAB consciously"
        )
    Q18 = Decimal(1).scaleb(-18)
    G_TYPE = "decimal(38,18)"

    toks = docs.select(
        F.explode(_tokens_col(text_col)).alias("tok")
    ).filter(F.col("tok") != "")
    vocab_df = cut_lineage(
        toks.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("tok"))
        .limit(vocab_size)
        .select("tok"),
        eager=True,
    )

    counts = (
        _pairs_d_df(docs, text_col, window)
        .join(F.broadcast(vocab_df.select(F.col("tok").alias("a"))), "a")
        .join(F.broadcast(vocab_df.select(F.col("tok").alias("b"))), "b")
        .groupBy("a", "b", "d")
        .agg(F.count(F.lit(1)).alias("n"))
    )

    def y_fn(dn):
        return pd.Series(
            [
                _pair_target((e["d"], e["n"]) for e in row)
                for row in dn
            ]
        )

    y_udf = pandas_udf(y_fn, "double")
    pairs = cut_lineage(
        counts.groupBy("a", "b")
        .agg(F.collect_list(F.struct("d", "n")).alias("dn"))
        .select("a", "b", y_udf(F.col("dn")).alias("y")),
        eager=True,
    )
    deg_u_df = pairs.groupBy("a").agg(F.count(F.lit(1)).alias("deg"))
    deg_c_df = pairs.groupBy("b").agg(F.count(F.lit(1)).alias("deg"))

    def make_init(kind):
        def init_fn(tok):
            return pd.Series([_init_vec(kind, t, dim) for t in tok])

        return pandas_udf(init_fn, f"array<{DECIMAL_TYPE}>")

    U = cut_lineage(
        vocab_df.select("tok", make_init("u")(F.col("tok")).alias("vec")),
        eager=True,
    )
    C = cut_lineage(
        vocab_df.select("tok", make_init("c")(F.col("tok")).alias("vec")),
        eager=True,
    )

    def r_fn(uvec, cvec, y):
        rs, rrs = [], []
        for u, c, yy in zip(uvec, cvec, y):
            z = Decimal(0)
            for k in range(dim):
                z += u[k] * c[k]
            r = _dec9(float(z) - yy)
            rs.append(r)
            rrs.append((r * r).quantize(Q18))
        return pd.DataFrame({"r": rs, "rr": rrs})

    r_udf = pandas_udf(r_fn, f"struct<r:{DECIMAL_TYPE},rr:{G_TYPE}>")

    def make_fold(tok_col, vec_col):
        def fold_fn(pdf):
            g = [Decimal(0)] * dim
            for r, vec in zip(pdf["r"], pdf[vec_col]):
                for k in range(dim):
                    g[k] += r * vec[k]
            return pd.DataFrame(
                {
                    "tok": [pdf[tok_col].iat[0]],
                    "g": [[x.quantize(Q18) for x in g]],
                }
            )

        return fold_fn

    def upd_fn(vec, g, deg):
        out = []
        for v, gv, dg in zip(vec, g, deg):
            dgf = int(dg)
            out.append(
                [
                    _dec9(float(v[k]) - lr * 2.0 * float(gv[k]) / dgf)
                    for k in range(dim)
                ]
            )
        return pd.Series(out)

    upd_udf = pandas_udf(upd_fn, f"array<{DECIMAL_TYPE}>")
    zero_g = F.array(
        *[F.lit(Decimal(0)).cast(G_TYPE) for _ in range(dim)]
    )

    def apply_update(side, grads, deg_df):
        return cut_lineage(
            side.join(grads, "tok", "left")
            .join(deg_df.withColumnRenamed(deg_df.columns[0], "tok"), "tok", "left")
            .select(
                "tok",
                upd_udf(
                    F.col("vec"),
                    F.coalesce(F.col("g"), zero_g),
                    F.greatest(F.coalesce(F.col("deg"), F.lit(1)), F.lit(1)),
                ).alias("vec"),
            ),
            eager=True,
        )

    losses = []
    for _ in range(epochs):
        joined = (
            pairs.join(
                F.broadcast(
                    U.select(F.col("tok").alias("a"), F.col("vec").alias("uvec"))
                ),
                "a",
            )
            .join(
                F.broadcast(
                    C.select(F.col("tok").alias("b"), F.col("vec").alias("cvec"))
                ),
                "b",
            )
        )
        r_df = cut_lineage(
            joined.withColumn(
                "__r", r_udf(F.col("uvec"), F.col("cvec"), F.col("y"))
            ).select(
                "a", "b", "uvec", "cvec",
                F.col("__r.r").alias("r"),
                F.col("__r.rr").alias("rr"),
            ),
            eager=True,
        )
        loss = r_df.agg(F.sum("rr").alias("s")).collect()[0]["s"]
        losses.append(Decimal(0) if loss is None else loss)
        g_u = r_df.select("a", "r", "cvec").groupBy("a").applyInPandas(
            make_fold("a", "cvec"), f"tok string, g array<{G_TYPE}>"
        )
        g_c = r_df.select("b", "r", "uvec").groupBy("b").applyInPandas(
            make_fold("b", "uvec"), f"tok string, g array<{G_TYPE}>"
        )
        U = apply_update(U, g_u, deg_u_df)
        C = apply_update(C, g_c, deg_c_df)

    n_pairs = pairs.count()
    u_rows = U.collect()
    c_rows = C.collect()
    vocab = sorted(r["tok"] for r in u_rows)
    return WEModel(
        vocab=vocab,
        U={r["tok"]: list(r["vec"]) for r in u_rows},
        C={r["tok"]: list(r["vec"]) for r in c_rows},
        losses=losses,
        n_pairs=n_pairs,
        dim=dim,
    )


def trained_model_fn(model: WEModel):
    """Adapt a fit model to the ``text_embedding(model_fn=)`` seam
    (``operators/embedder.py``): documents → sum-pooled CENTER
    vectors, float64, token order (OOV tokens contribute nothing;
    all-OOV/empty documents embed to the zero vector). The returned
    callable is exactly the contract the GloVe encoder would satisfy
    — a REAL learned encoder through the N6 seam."""
    import numpy as np

    vecs = {
        t: np.array([float(x) for x in model.U[t]], dtype=np.float64)
        for t in model.vocab
    }
    dim = model.dim

    def encode(texts):
        out = np.zeros((len(texts), dim), dtype=np.float64)
        for i, t in enumerate(texts):
            for tok in (t or "").lower().split():
                v = vecs.get(tok)
                if v is not None:
                    out[i] += v
        return out

    return encode


def word_vectors_df(spark, model: WEModel) -> DataFrame:
    """The fit CENTER vectors as a ``(tok, k, w)`` frame with ``w``
    dec9 ``DECIMAL`` — the broadcast side of the relational encoder
    (``V·dim`` rows)."""
    rows = [
        (t, k, model.U[t][k])
        for t in model.vocab
        for k in range(model.dim)
    ]
    return spark.createDataFrame(
        rows, f"tok string, k int, w {DECIMAL_TYPE}"
    )


def embed_documents(
    docs: DataFrame,
    model: WEModel,
    text_col: str = "text",
    id_col: str = "doc_id",
    tokens: DataFrame | None = None,
) -> DataFrame:
    """Relational twin of the seam encoder: explode tokens →
    broadcast-join the vector table → EXACT decimal per-component sum
    → ``(id_col, embedding array<double>)``. Exact-in-decimal (the
    fold is order-independent), so the DuckDB oracle reproduces every
    component bit-for-bit from inlined decimal literals; the final
    decimal→double cast is the single rounding, identical on both
    engines. Documents with no in-vocab token embed to the zero
    vector (kept — same as the seam).

    ``tokens``: an ALREADY-MATERIALIZED ``(id_col, __t array)`` frame
    (one row per doc) — the corpus is then never re-scanned here: the
    token explode AND the zero-fill id set both read the materialized
    arrays (r14, shared with :func:`fit_word_embedding`)."""
    spark = docs.sparkSession
    wv = word_vectors_df(spark, model)
    if tokens is not None:
        ids = tokens.select(id_col)
        toks = tokens.select(F.col(id_col), F.explode("__t").alias("tok"))
    else:
        ids = docs.select(id_col)
        toks = docs.select(
            F.col(id_col), F.explode(_tokens_col(text_col)).alias("tok")
        )
    comp = (
        toks.join(F.broadcast(wv), "tok")
        .groupBy(id_col, "k")
        .agg(exact_sum_decimal(F.col("w")).alias("s"))
    )
    pooled = (
        comp.groupBy(id_col)
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("k"), F.col("s")))
            ).alias("__ks")
        )
        .select(
            id_col,
            F.transform(
                F.col("__ks"), lambda x: x["s"].cast("double")
            ).alias("embedding"),
        )
    )
    # zero-vector fill for docs with no in-vocab token: left join back
    zero = F.array(*[F.lit(0.0) for _ in range(model.dim)])
    return (
        ids
        .join(pooled, id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("embedding"), zero).alias("embedding"),
        )
    )


def exact_sum_decimal(col):
    """Exact decimal SUM of already-decimal inputs (no fold needed:
    decimal addition is associative and Spark widens the accumulator;
    kept as a named seam so the oracle spelling stays symmetric)."""
    return F.sum(col)
