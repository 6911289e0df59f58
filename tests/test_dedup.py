from pyspark.sql import functions as F

from deep_db_learning_spark.operators import dedup


def test_exact_dedup_matches_duckdb(db, duck):
    out = dedup.exact_dedup(db.df("documents"), "text", "doc_id")
    got = {(r["content_hash"], r["keeper_id"], r["dup_cnt"]) for r in out.collect()}
    want = set(
        duck.execute(
            "SELECT md5(text), min(doc_id), count(*) FROM documents GROUP BY md5(text)"
        ).fetchall()
    )
    assert got == want
    # survivors: one per distinct text
    kept = dedup.exact_dedup_keep_rows(db.df("documents"), "text", "doc_id")
    assert kept.count() == len(want)


def test_minhash_signature_shape_and_determinism(db):
    signed = dedup.minhash_signature(db.df("documents"), "text", num_perm=32)
    rows = signed.select("doc_id", "signature").limit(5).collect()
    assert all(len(r["signature"]) == 32 for r in rows)
    signed2 = dedup.minhash_signature(db.df("documents"), "text", num_perm=32)
    a = {(r["doc_id"], tuple(r["signature"])) for r in signed.collect()}
    b = {(r["doc_id"], tuple(r["signature"])) for r in signed2.collect()}
    assert a == b


def test_minhash_similarity_correlates_with_jaccard(spark):
    # identical docs → identical signatures; disjoint docs → different
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy dog"),
        (3, "the quick brown fox jumps over the lazy cat"),
        (4, "completely different words entirely unrelated text"),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    signed = dedup.minhash_signature(df, "text", num_perm=64)
    sigs = {r["doc_id"]: r["signature"] for r in signed.collect()}
    assert sigs[1] == sigs[2]

    def est(a, b):
        return sum(x == y for x, y in zip(sigs[a], sigs[b])) / 64

    assert est(1, 3) > 0.5  # one-word change, high overlap
    assert est(1, 4) < 0.2


def test_lsh_finds_near_dups(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog and runs away fast"),
        (2, "the quick brown fox jumps over the lazy dog and runs away fast!"),
        (3, "a totally different document about spark query optimization today"),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    signed = dedup.minhash_signature(df, "text", num_perm=64)
    cand = dedup.lsh_candidate_pairs(signed, "doc_id", bands=16)
    pairs = {(r["id_a"], r["id_b"]) for r in cand.collect()}
    assert (1, 2) in pairs

    kept = dedup.minhash_lsh_dedup(df, "text", "doc_id", threshold=0.7)
    ids = {r["doc_id"] for r in kept.collect()}
    assert ids == {1, 3}  # 2 deduped as near-dup of 1


def test_ngram_jaccard_matches_duckdb(db, duck):
    # restrict to a small slice for the O(n^2)-ish check
    docs = db.df("documents").filter(F.col("doc_id") < 40)
    out = dedup.ngram_jaccard_pairs(docs, "text", "doc_id", shingle_k=5, threshold=0.4)
    got = {(r["id_a"], r["id_b"], r["jaccard"]) for r in out.collect()}
    want = set(
        duck.execute(
            """
            WITH sh AS (
              SELECT doc_id,
                     list_distinct(CASE WHEN length(text) < 5 THEN [text]
                       ELSE list_transform(range(1, length(text) - 3),
                                           i -> substr(text, i, 5)) END) AS grams
              FROM documents WHERE doc_id < 40
            )
            SELECT a.doc_id, b.doc_id,
                   round(len(list_intersect(a.grams, b.grams))::DOUBLE /
                         (len(a.grams) + len(b.grams) - len(list_intersect(a.grams, b.grams))), 6)
            FROM sh a JOIN sh b ON a.doc_id < b.doc_id
            WHERE len(list_intersect(a.grams, b.grams))::DOUBLE /
                  (len(a.grams) + len(b.grams) - len(list_intersect(a.grams, b.grams))) >= 0.4
            """
        ).fetchall()
    )
    assert got == want


def test_simhash_and_hamming_pairs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog and runs far away"),
        (2, "the quick brown fox jumps over the lazy dog and runs far home"),
        (3, "completely unrelated text about database systems and query planners"),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    hashed = dedup.simhash(df, "text")
    vals = {r["doc_id"]: r["simhash"] for r in hashed.collect()}
    assert len(set(vals.values())) == 3

    def hamming(a, b):
        return bin((vals[a] ^ vals[b]) & ((1 << 64) - 1)).count("1")

    assert hamming(1, 2) < hamming(1, 3)

    # identical docs collide
    df2 = spark.createDataFrame([(1, "same text"), (2, "same text")], "doc_id bigint, text string")
    v2 = {r["doc_id"]: r["simhash"] for r in dedup.simhash(df2, "text").collect()}
    assert v2[1] == v2[2]
    pairs = dedup.simhash_candidate_pairs(dedup.simhash(df2, "text"), "doc_id")
    got = [(r["id_a"], r["id_b"], r["hamming"]) for r in pairs.collect()]
    assert got == [(1, 2, 0)]


def test_minhash_pandas_matches_expr(db):
    # the vectorized kernel and the JVM expression twin are value-identical
    docs = db.df("documents").filter(F.col("doc_id") < 30)
    fast = {
        r["doc_id"]: tuple(r["signature"])
        for r in dedup.minhash_signature(docs, "text", num_perm=16).collect()
    }
    slow = {
        r["doc_id"]: tuple(r["signature"])
        for r in dedup.minhash_signature_expr(docs, "text", num_perm=16).collect()
    }
    assert fast == slow


def test_prefix_filtered_jaccard_equals_naive(db):
    """PPJoin prefix filtering is lossless: identical pair sets and
    jaccard values at two (k, t) parameterizations."""
    docs = db.df("documents")
    for k, t in ((9, 0.7), (5, 0.5)):
        fast = sorted(map(tuple, dedup.ngram_jaccard_pairs(
            docs, "text", "doc_id", k, t, prefix_filter=True
        ).collect()))
        naive = sorted(map(tuple, dedup.ngram_jaccard_pairs(
            docs, "text", "doc_id", k, t, prefix_filter=False
        ).collect()))
        assert fast == naive and len(fast) > 0


def test_simhash_kernel_matches_expr_and_duckdb(db, duck):
    # the Arrow numpy kernel, the Spark HOF expression twin, and the
    # DuckDB dialect of the same SQL are bit-identical — including the
    # whitespace/empty-token/NULL edge cases
    docs = db.df("documents").filter(F.col("doc_id") < 40)
    kern = {r["doc_id"]: r["simhash"] for r in dedup.simhash(docs, "text").collect()}
    expr = {r["doc_id"]: r["simhash"] for r in dedup.simhash_expr(docs, "text").collect()}
    assert kern == expr
    sql = dedup._simhash_sql("text", dialect="duckdb")
    got = dict(
        duck.execute(
            f"SELECT doc_id, {sql} FROM documents WHERE doc_id < 40"
        ).fetchall()
    )
    assert got == kern


def test_simhash_edge_cases_match(spark):
    rows = [
        (1, ""),                      # empty -> all-zero fingerprint
        (2, None),                    # NULL -> NULL
        (3, "  leading spaces"),
        (4, "tab\tand\nnewline mix "),
        (5, "x"),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    kern = {r["doc_id"]: r["simhash"] for r in dedup.simhash(df, "text").collect()}
    expr = {r["doc_id"]: r["simhash"] for r in dedup.simhash_expr(df, "text").collect()}
    assert kern == expr
    assert kern[1] == 0 and kern[2] is None


def test_simhash_pairs_work_with_string_ids(spark):
    # regression: block assignment must not assume numeric ids — a
    # bigint-cast hash NULLed string ids and explode() silently dropped
    # every candidate row
    rows = [("doc-a", "same text here"), ("doc-b", "same text here"), ("doc-c", "other")]
    df = spark.createDataFrame(rows, "doc_id string, text string")
    pairs = dedup.simhash_candidate_pairs(dedup.simhash(df, "text"), "doc_id")
    got = {(r["id_a"], r["id_b"], r["hamming"]) for r in pairs.collect()}
    assert got == {("doc-a", "doc-b", 0)}
    # and with blocking enabled the same pair set comes back
    blocked = dedup.simhash_candidate_pairs(
        dedup.simhash(df, "text"), "doc_id", n_blocks=4
    )
    assert {(r["id_a"], r["id_b"], r["hamming"]) for r in blocked.collect()} == got


def test_dedup_paragraphs_boilerplate_removal(spark, duck):
    """Cross-doc paragraph dedup: paragraphs shared by >=2 docs vanish
    everywhere, per-doc order is preserved, fully-boilerplate docs come
    back empty; matches a DuckDB twin."""
    from deep_db_learning_spark.operators.dedup import dedup_paragraphs

    license_line = "(c) 2024 Example Corp - all rights reserved"
    rows = [
        (0, f"{license_line}\nunique zero\nmore zero"),
        (1, f"{license_line}\nunique one"),
        (2, "unique two\nrepeated inside\nrepeated inside"),
        (3, license_line),
        (4, "all mine"),
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    out = {r["doc_id"]: r["text"] for r in dedup_paragraphs(df, "text", "doc_id").collect()}
    assert out[0] == "unique zero\nmore zero"
    assert out[1] == "unique one"
    # within-doc repetition is NOT boilerplate (distinct-doc count = 1)
    assert out[2] == rows[2][1]
    assert out[3] == ""
    assert out[4] == "all mine"
    # DuckDB twin over the same rows
    duck.execute("CREATE OR REPLACE TABLE pd_t(doc_id INT, text VARCHAR)")
    duck.executemany("INSERT INTO pd_t VALUES (?, ?)", rows)
    want = dict(
        duck.execute(
            """
            WITH paras AS (
              SELECT doc_id, i AS pos, p.para
              FROM pd_t,
                   LATERAL (SELECT unnest(string_split(text, chr(10))) AS para,
                                   generate_subscripts(string_split(text, chr(10)), 1) AS i) p
            ),
            boiler AS (
              SELECT para FROM paras GROUP BY para
              HAVING count(DISTINCT doc_id) >= 2
            ),
            kept AS (
              SELECT * FROM paras WHERE para NOT IN (SELECT para FROM boiler)
            )
            SELECT d.doc_id,
                   coalesce(
                     (SELECT string_agg(k.para, chr(10) ORDER BY k.pos)
                      FROM kept k WHERE k.doc_id = d.doc_id), '') AS text
            FROM pd_t d
            """
        ).fetchall()
    )
    assert out == want


def test_minhash_lsh_dedup_signed_runs_no_input_plan(spark, monkeypatch):
    """With precomputed signatures or candidates, building
    minhash_lsh_dedup's result runs none of the input's plan before the
    caller's action. The .rdd partition probe, which under AQE executes
    every exchange of a lazy input as hidden jobs, is taken only when
    the function signs the input itself. The operator's own lineage cuts are stubbed out, so
    any job fired while building is a hidden one."""
    from deep_db_learning_spark.checkpoint import cut_lineage

    rows = [
        (1, "the quick brown fox jumps over the lazy dog and runs away fast"),
        (2, "the quick brown fox jumps over the lazy dog and runs away fast!"),
        (3, "a totally different document about spark query optimization today"),
    ]
    # a lazy input with an exchange, at fewer partitions than the
    # default parallelism (the probe's repartition condition)
    df = spark.createDataFrame(rows, "doc_id bigint, text string").repartition(
        2, "doc_id"
    )
    signed = cut_lineage(dedup.minhash_signature(df, "text", num_perm=64))
    cands = cut_lineage(dedup.lsh_candidate_pairs(signed, "doc_id"))
    monkeypatch.setattr(dedup, "cut_lineage", lambda frame, eager=True: frame)
    sc = spark.sparkContext

    def build(group, **kw):
        sc.setJobGroup(group, group)
        try:
            kept = dedup.minhash_lsh_dedup(df, "text", "doc_id", **kw)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return kept, len(sc.statusTracker().getJobIdsForGroup(group))

    kept, n_jobs = build("lsh_dedup_signed_build", signed=signed)
    assert n_jobs == 0
    assert {r["doc_id"] for r in kept.collect()} == {1, 3}
    # with candidates alone, df is neither signed nor probed
    kept, n_jobs = build("lsh_dedup_cands_build", candidates=cands)
    assert n_jobs == 0
    assert {r["doc_id"] for r in kept.collect()} == {1, 3}
    # the input does carry an exchange that the probe would run
    kept, n_jobs = build("lsh_dedup_unsigned_build")
    assert n_jobs > 0
    assert {r["doc_id"] for r in kept.collect()} == {1, 3}


def test_minhash_dedup_against_reference(spark):
    """Cross-corpus dedup (r5): rows of the new corpus that
    near-duplicate any reference doc are dropped; unique rows survive;
    the result is deterministic."""
    from deep_db_learning_spark.operators.dedup import minhash_dedup_against

    base = (
        "the quick brown fox jumps over the lazy dog and keeps running "
        "through the quiet forest until the morning light returns again"
    )
    other = (
        "completely different content about database engines and "
        "distributed query processing with columnar storage layouts"
    )
    ref = spark.createDataFrame(
        [(100, base), (101, other)], "doc_id bigint, text string"
    )
    new = spark.createDataFrame(
        [
            (1, base),  # exact copy -> dropped
            (2, base.replace("morning", "evening")),  # near-dup -> dropped
            (3, "totally novel text with no overlap whatsoever to speak of "
                "regarding culinary adventures in small mountain villages"),
            (4, other[: len(other) // 2] + " plus a long unique tail that "
                "changes most of the shingles beyond the jaccard threshold "
                "by adding plenty of fresh character sequences"),
        ],
        "doc_id bigint, text string",
    )
    kept = minhash_dedup_against(
        new, ref, "text", "doc_id", num_perm=64, bands=16, shingle_k=9,
        threshold=0.7,
    )
    ids = sorted(r["doc_id"] for r in kept.collect())
    assert ids == [3, 4]
    again = sorted(
        r["doc_id"]
        for r in minhash_dedup_against(
            new, ref, "text", "doc_id", num_perm=64, bands=16, shingle_k=9,
            threshold=0.7,
        ).collect()
    )
    assert again == ids
    # schema passthrough: the survivors are original rows
    assert set(kept.columns) == {"doc_id", "text"}


def test_minhash_band_index_reuse(spark, tmp_path):
    """The persisted dedup index (r6): the candidate pairs of a
    bucket join of the new docs' band rows against a
    parquet-round-tripped index, passed as minhash_dedup_against's
    ``candidates``, keep exactly the same set as the from-scratch run —
    the store is never re-signed."""
    from deep_db_learning_spark.operators.dedup import (
        _bucket_pairs,
        minhash_band_index,
        minhash_dedup_against,
    )

    base = (
        "the quick brown fox jumps over the lazy dog and keeps running "
        "through the quiet forest until the morning light returns again"
    )
    ref = spark.createDataFrame(
        [(100, base), (101, "unrelated words about storage engines and "
                           "columnar layouts in distributed databases")],
        "doc_id bigint, text string",
    )
    new = spark.createDataFrame(
        [
            (1, base),
            (2, base.replace("morning", "evening")),
            (3, "completely novel content regarding alpine gardening and "
                "terrace irrigation schedules in small mountain villages"),
        ],
        "doc_id bigint, text string",
    )
    direct = sorted(
        r["doc_id"] for r in minhash_dedup_against(
            new, ref, "text", "doc_id", threshold=0.7
        ).collect()
    )
    idx_path = str(tmp_path / "dedup_index")
    minhash_band_index(ref, "text", "doc_id").write.parquet(idx_path)
    cands = _bucket_pairs(
        minhash_band_index(new, "text", "doc_id"),
        spark.read.parquet(idx_path),
        "doc_id",
        ("__new_id", "__ref_id"),
    )
    assert {tuple(r) for r in cands.collect()} >= {(1, 100), (2, 100)}
    via_index = sorted(
        r["doc_id"] for r in minhash_dedup_against(
            new, ref, "text", "doc_id", threshold=0.7, candidates=cands,
        ).collect()
    )
    assert via_index == direct == [3]


def test_duplicate_spans_detection_and_removal(spark, duck):
    """Span-level dedup (r6 — the Lee et al. 2022 exact-substring
    pass): windows of shared boilerplate merge into maximal intervals
    (cross-doc AND within-doc repeats), removal excises exactly those
    regions and leaves unique documents untouched, and a DuckDB twin
    reproduces the intervals from the same portable window hashes."""
    from pyspark.sql import functions as F

    from deep_db_learning_spark.operators.dedup import (
        duplicate_spans,
        remove_duplicate_spans,
    )

    boiler = (
        "This document is provided under the standard license "
        "agreement version two point one all rights reserved."
    )
    rep = "repeated sixty character boilerplate sentence number one here!"
    rows = [
        (1, "Intro text alpha. " + boiler + " Unique tail about mountain "
            "weather patterns and their seasonal variation."),
        (2, "Other beginning entirely. " + boiler + " Different ending "
            "regarding submarine cable maintenance operations."),
        (3, "A fully unique document about medieval bread baking "
            "techniques and the guild system that governed them."),
        (4, rep + " interlude words " + rep + " closing remarks"),
    ]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    K = 50
    spans = {
        (r["doc_id"], r["start"], r["end"])
        for r in duplicate_spans(docs, "text", "doc_id", min_len=K).collect()
    }
    by_doc = {}
    for d, s, e in spans:
        by_doc.setdefault(d, []).append((s, e))
    # the shared boilerplate is covered in docs 1 and 2; doc 3 clean;
    # doc 4's self-repeat is covered at both occurrences
    for did, text in rows[:2]:
        (s, e), = by_doc[did]
        assert text[s - 1 : e].find(boiler) >= 0
    assert 3 not in by_doc
    assert len(by_doc[4]) >= 1
    covered = set()
    for s, e in by_doc[4]:
        covered.update(range(s, e + 1))
    first = rows[3][1].find(rep) + 1
    second = rows[3][1].find(rep, first) + 1
    assert set(range(first, first + len(rep))) <= covered
    assert set(range(second, second + len(rep))) <= covered

    cleaned = {
        r["doc_id"]: r["text"]
        for r in remove_duplicate_spans(docs, "text", "doc_id", min_len=K).collect()
    }
    assert boiler not in cleaned[1] and boiler not in cleaned[2]
    assert rep not in cleaned[4]
    assert cleaned[3] == rows[2][1]
    assert "Unique tail about mountain" in cleaned[1]
    assert "Different ending" in cleaned[2]

    # DuckDB twin of the interval computation (the same two portable
    # Horner window folds, count filter, island merge)
    from deep_db_learning_spark.operators.dedup import (
        SHINGLE_B,
        SHINGLE_B2,
        SHINGLE_P,
    )

    def fold(base):
        return (
            "list_reduce(list_prepend(CAST(0 AS BIGINT), "
            f"list_transform(string_split(substr(d.text, CAST(w.pos AS INT), {K}), ''), "
            "ch -> CAST(CASE WHEN ch = '' THEN 0 ELSE ord(ch) END AS BIGINT))), "
            f"(acc, ch) -> (acc * {base} + ch) % {SHINGLE_P})"
        )

    duck.execute("CREATE OR REPLACE TABLE span_docs(doc_id BIGINT, text VARCHAR)")
    duck.executemany("INSERT INTO span_docs VALUES (?, ?)", rows)
    twin = set(
        map(
            tuple,
            duck.execute(
                f"""
        WITH w AS (
          SELECT doc_id, unnest(range(1, greatest(length(text) - {K - 1}, 0) + 1)) AS pos
          FROM span_docs
        ), h AS (
          SELECT w.doc_id, w.pos,
                 {fold(SHINGLE_B)} AS gh1,
                 {fold(SHINGLE_B2)} AS gh2
          FROM w JOIN span_docs d ON d.doc_id = w.doc_id
        ), dup AS (
          SELECT gh1, gh2 FROM h GROUP BY gh1, gh2 HAVING count(*) >= 2
        ), dw AS (
          SELECT h.doc_id, h.pos FROM h JOIN dup USING (gh1, gh2)
        ), isl AS (
          SELECT doc_id, pos,
                 sum(CASE WHEN prev IS NULL OR pos - prev > {K} THEN 1 ELSE 0 END)
                   OVER (PARTITION BY doc_id ORDER BY pos) AS island
          FROM (SELECT doc_id, pos,
                       lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
                FROM dw)
        )
        SELECT doc_id, min(pos) AS start, max(pos) + {K - 1} AS "end"
        FROM isl GROUP BY doc_id, island
        """
            ).fetchall(),
        )
    )
    assert twin == spans


def test_remove_duplicate_spans_separate_out_keeps_source(spark):
    """r7 advice fix: asking for a distinct output column must keep
    the original text beside the excised copy (previously the source
    column was silently dropped); in-place mode still replaces it."""
    from deep_db_learning_spark.operators.dedup import remove_duplicate_spans

    boiler = (
        "This document is provided under the standard license "
        "agreement version two point one all rights reserved."
    )
    rows = [
        (1, "Start one. " + boiler + " Tail about glacier melt rates."),
        (2, "Start two, differently. " + boiler + " Tail on orbit decay."),
    ]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = remove_duplicate_spans(
        docs, "text", "doc_id", min_len=50, out="clean_text"
    )
    assert set(got.columns) == {"doc_id", "text", "clean_text"}
    by_id = {r["doc_id"]: r for r in got.collect()}
    for did, text in rows:
        assert by_id[did]["text"] == text  # source untouched
        assert boiler not in by_id[did]["clean_text"]
    inplace = remove_duplicate_spans(docs, "text", "doc_id", min_len=50)
    assert set(inplace.columns) == {"doc_id", "text"}


def test_ngram_containment_catches_subdocument_duplication(spark):
    """Containment finds a short doc embedded in a long one — the pair
    a symmetric Jaccard join misses — and the candidates= verify path
    agrees with the exact self-join."""
    from deep_db_learning_spark.operators.dedup import (
        ngram_containment_pairs,
        ngram_jaccard_pairs,
    )

    quote = "the quick brown fox jumps over the lazy dog tonight"
    filler = " ".join(f"word{i}" for i in range(120))
    rows = [
        (0, quote),
        (1, filler + " " + quote + " " + filler[::-1]),
        (2, "completely unrelated text about spark query planning " * 3),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    cont = {
        (r["id_a"], r["id_b"]): r["containment"]
        for r in ngram_containment_pairs(
            df, "text", "doc_id", shingle_k=5, threshold=0.8
        ).collect()
    }
    assert (0, 1) in cont and cont[(0, 1)] == 1.0  # fully contained
    assert all(k == (0, 1) for k in cont)
    # symmetric jaccard misses it at any reasonable threshold
    jac = ngram_jaccard_pairs(
        df, "text", "doc_id", shingle_k=5, threshold=0.5
    ).collect()
    assert all((r["id_a"], r["id_b"]) != (0, 1) for r in jac)
    # verify path over explicit candidates == exact self-join
    cand = spark.createDataFrame(
        [(0, 1), (0, 2), (1, 2)], "id_a bigint, id_b bigint"
    )
    via_cand = {
        (r["id_a"], r["id_b"]): r["containment"]
        for r in ngram_containment_pairs(
            df, "text", "doc_id", shingle_k=5, threshold=0.8,
            candidates=cand,
        ).collect()
    }
    assert via_cand == cont
