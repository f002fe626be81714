"""Quality checks for the LLM-data-pipeline ops that the SQL oracle can't
express: LSH-ANN recall vs brute force, planted near-dup detection."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from bensp_suite_spark.operators import dedup_text as DT
from bensp_suite_spark.operators import similarity as SIM

from .conftest import SF_CORRECT


def test_lsh_ann_recall(spark):
    emb = spark.read.parquet(f"{SF_CORRECT}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 20)
    exact = SIM.cosine_topk_bruteforce(queries, emb, k=5)
    approx = SIM.lsh_ann_topk(queries, emb, k=5, dim=64)
    e = {(r.query_id, r.neighbor_id) for r in exact.collect()}
    a = {(r.query_id, r.neighbor_id) for r in approx.collect()}
    recall = len(e & a) / len(e)
    # FIXTURES.md §3: statistical recall bound, mirrors the reference's
    # -L 8 -T 20 multi-probe quality target
    assert recall >= 0.5, f"LSH ANN recall too low: {recall:.2f}"


def test_ivf_ann_recall(spark):
    emb = spark.read.parquet(f"{SF_CORRECT}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 20)
    exact = SIM.cosine_topk_bruteforce(queries, emb, k=5)
    approx = SIM.ivf_ann_topk(queries, emb, k=5, n_cells=16, n_probe=4)
    e = {(r.query_id, r.neighbor_id) for r in exact.collect()}
    a = {(r.query_id, r.neighbor_id) for r in approx.collect()}
    recall = len(e & a) / len(e)
    assert recall >= 0.4, f"IVF ANN recall too low: {recall:.2f}"


def test_html_extraction_hostile_cases(spark):
    """HTML → text on the cases regex strippers get wrong: a '<' inside a
    script body, multiline style blocks, comments, double-encoded
    entities (&amp;lt; must decode to the literal '&lt;', not '<'),
    missing titles, and entity-bearing titles."""
    import duckdb

    from bensp_suite_spark.operators import text_analysis as TA

    cases = [
        (1, '<html><head><title>A &amp; B</title><script>if (1 < 2) { x(); }'
            '</script></head><body><p>hello</p><p>world</p></body></html>'),
        (2, '<body><style>\np { a: 1; }\n</style>text &amp;lt;kept&amp;gt; end</body>'),
        (3, '<!-- c1 --><div>no <!-- c2 --> title</div>'),
        (4, '<TITLE>\n  spread \t title\n</TITLE><b>bold</b>'),
    ]
    df = spark.createDataFrame(cases, "doc_id long, html string")
    got = {
        r["doc_id"]: (r["title"], r["text"])
        for r in df.select(
            "doc_id",
            TA.extract_html_title(F.col("html")).alias("title"),
            TA.extract_html_text(F.col("html")).alias("text"),
        ).collect()
    }
    assert got[1] == ("A & B", "A & B hello world")
    assert got[2] == ("", "text &lt;kept&gt; end")
    assert got[3] == ("", "no title")
    assert got[4] == ("spread title", "spread title bold")
    # cross-engine parity on the same rows
    text_sql, title_sql = TA.extract_html_sql("html")
    con = duckdb.connect()
    con.execute("CREATE TABLE t(doc_id BIGINT, html VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?, ?)", cases)
    want = {
        i: (ti, te)
        for i, ti, te in con.execute(
            f"SELECT doc_id, {title_sql}, {text_sql} FROM t"
        ).fetchall()
    }
    assert got == want


def test_ivf_defaults_rule():
    """The corpus-size-aware sizing rule (n_cells ≈ √N capped by the
    centroid budget, n_probe = max(8, n_cells/16)). The (500 → 22, 8) pin
    is what the ann_ivf_auto_topk oracle hard-codes for sf0.01 — if this
    test fails after a rule change, update that oracle in lockstep."""
    assert SIM.ivf_defaults(500) == (22, 8)          # sf0.01 embeddings
    assert SIM.ivf_defaults(100_000) == (316, 19)    # the bench scale probe
    assert SIM.ivf_defaults(10**10) == (65536, 4096)  # budget cap
    assert SIM.ivf_defaults(4) == (2, 2)             # n_probe never exceeds n_cells
    assert SIM.ivf_defaults(0) == (1, 1)


def test_ivf_auto_sizing_recall_floor(spark):
    """Auto-sized IVF (n_cells=None/n_probe=None) must clear the recall
    floor the static default missed, on both the live path (corpus count)
    and the prebuilt-index path (probe derived from the centroid count)."""
    emb = spark.read.parquet(f"{SF_CORRECT}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 20)
    exact = {
        (r.query_id, r.neighbor_id)
        for r in SIM.cosine_topk_bruteforce(queries, emb, k=5).collect()
    }
    auto = {
        (r.query_id, r.neighbor_id)
        for r in SIM.ivf_ann_topk(queries, emb, k=5, n_cells=None, n_probe=None).collect()
    }
    assert len(exact & auto) / len(exact) >= 0.8
    # prebuilt path: n_probe=None derives from the index's own cell count
    n_cells, _ = SIM.ivf_defaults(emb.count())
    cent = SIM.ivf_centroids(emb, n_cells)
    assign = SIM.ivf_assign(
        emb.select(F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("cv")),
        cent, 1, "neighbor_id", "cv",
    )
    pre = {
        (r.query_id, r.neighbor_id)
        for r in SIM.ivf_ann_topk(
            queries, emb, k=5, n_probe=None, index=(cent, assign)
        ).collect()
    }
    assert pre == auto  # same sizing on both paths → identical ranking


def test_ivf_assignment_covers_corpus(spark):
    """Every corpus vector lands in exactly one cell; every query emits
    exactly n_probe probe rows (the IVF partition-function invariants)."""
    emb = spark.read.parquet(f"{SF_CORRECT}/embeddings.parquet")
    cent = SIM.ivf_centroids(emb, n_cells=16)
    assert cent.count() == 16
    assigned = SIM.ivf_assign(
        emb.select(F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("cv")),
        cent, 1, "neighbor_id", "cv",
    )
    n = emb.count()
    assert assigned.count() == n
    assert assigned.select("neighbor_id").distinct().count() == n
    probes = SIM.ivf_assign(
        emb.filter(F.col("vec_id") < 8).select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
        ),
        cent, 3, "query_id", "qv",
    )
    counts = {r.query_id: r["count"] for r in probes.groupBy("query_id").count().collect()}
    assert set(counts) == set(range(8)) and all(v == 3 for v in counts.values())


def test_lsh_top1_is_exact_often(spark):
    emb = spark.read.parquet(f"{SF_CORRECT}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 20)
    exact = SIM.cosine_topk_bruteforce(queries, emb, k=1)
    approx = SIM.lsh_ann_topk(queries, emb, k=1, dim=64)
    e = {r.query_id: r.neighbor_id for r in exact.collect()}
    a = {r.query_id: r.neighbor_id for r in approx.collect()}
    hit = sum(1 for qid in e if a.get(qid) == e[qid])
    assert hit / len(e) >= 0.5


def test_minhash_finds_planted_near_dups(spark):
    docs = spark.read.parquet(f"{SF_CORRECT}/documents.parquet")
    corpus = DT.augmented_corpus(docs)
    pairs = DT.minhash_lsh_pairs(corpus, threshold=0.5)
    found = {(r.doc_a, r.doc_b) for r in pairs.collect()}
    # every planted pair is (doc_id, doc_id + offset); count how many the
    # banded LSH recovered (docs with >3 words have jaccard near 1)
    n_docs = docs.count()
    planted_found = sum(1 for a, b in found if b - a == DT.AUG_OFFSET)
    assert planted_found >= 0.8 * n_docs, f"only {planted_found}/{n_docs} planted pairs found"


def test_ngram_jaccard_finds_planted_near_dups(spark):
    docs = spark.read.parquet(f"{SF_CORRECT}/documents.parquet")
    corpus = DT.augmented_corpus(docs)
    pairs = DT.ngram_jaccard_pairs(corpus, threshold=0.5)
    found = {(r.doc_a, r.doc_b) for r in pairs.collect()}
    n_docs = docs.count()
    planted_found = sum(1 for a, b in found if b - a == DT.AUG_OFFSET)
    assert planted_found >= 0.8 * n_docs


def test_simhash_pairs_find_planted(spark):
    docs = spark.read.parquet(f"{SF_CORRECT}/documents.parquet")
    corpus = DT.augmented_corpus(docs)
    pairs = DT.simhash_near_dup_pairs(corpus, max_hamming=4)
    found = {(r.doc_a, r.doc_b) for r in pairs.collect()}
    n_docs = docs.count()
    planted_found = sum(1 for a, b in found if b - a == DT.AUG_OFFSET)
    # simhash on heavily-shared-vocab corpora is noisier; still must find most
    assert planted_found >= 0.5 * n_docs


def test_simhash_expr_form_matches_chained_columns(spark):
    """simhash builds its 48 bit-sum aggregates and the CASE reassembly
    from SQL strings (r11: one Catalyst parse per expression instead of
    ~2-4k py4j round-trips of chained Column ops). The fingerprints must
    be bit-identical to the chained-op construction it replaced — the
    value every oracle-pinned dedup query downstream depends on."""
    from pyspark.sql import functions as F

    docs = spark.read.parquet(f"{SF_CORRECT}/documents.parquet")
    corpus = DT.augmented_corpus(docs).select("doc_id", "text")

    bits = DT.SIMHASH_BITS
    words = F.split(F.trim(F.col("text")), r"\s+")
    tok = corpus.select("doc_id", F.explode(words).alias("token"))
    h = F.conv(F.substring(F.md5(F.col("token")), 1, 8), 16, 10).cast("long")
    tok = tok.select("doc_id", h.alias("h"))
    tf = (
        tok.repartition(
            tok.sparkSession.sparkContext.defaultParallelism, "doc_id"
        )
        .groupBy("doc_id", "h")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    sums = [
        F.sum(
            F.shiftright(F.col("h"), i).bitwiseAND(F.lit(1)) * F.col("tf")
        ).alias(f"s{i}")
        for i in range(bits)
    ]
    agg = tf.groupBy("doc_id").agg(F.sum("tf").alias("cnt"), *sums)
    sim = sum(
        F.when(2 * F.col(f"s{i}") > F.col("cnt"), F.lit(1 << i)).otherwise(
            F.lit(0)
        )
        for i in range(bits)
    )
    chained = {
        r.doc_id: r.simhash
        for r in agg.select(
            "doc_id", sim.cast("long").alias("simhash")
        ).collect()
    }
    current = {r.doc_id: r.simhash for r in DT.simhash(corpus).collect()}
    assert current == chained
    assert len(current) > 0


def test_simhash_banding_pigeonhole_exact(spark):
    """Banded candidate generation must have PERFECT recall at the declared
    hamming bound: every true pair from the brute-force signature join must
    survive banding (the pigeonhole guarantee _simhash_bands encodes)."""
    from pyspark.sql import functions as F

    docs = spark.read.parquet(f"{SF_CORRECT}/documents.parquet")
    corpus = DT.augmented_corpus(docs)
    sig = DT.simhash(corpus).persist()
    a, b = sig.alias("a"), sig.alias("b")
    ham = F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
    brute = (
        a.crossJoin(b)
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            ham.alias("hamming"),
        )
        .filter(F.col("hamming") <= 2)
    )
    want = {(r.doc_a, r.doc_b, r.hamming) for r in brute.collect()}
    got = {
        (r.doc_a, r.doc_b, r.hamming)
        for r in DT.simhash_near_dup_pairs(corpus, max_hamming=2).collect()
    }
    assert got == want
    assert len(DT._simhash_bands(2)) == 3
    assert sum(w for _, w in DT._simhash_bands(2)) == DT.SIMHASH_BITS


def test_ngram_jaccard_skew_guard(spark):
    """The hot-shingle cap bounds join fan-out while keeping planted pairs
    (their distinctive shingles are rare)."""
    docs = spark.read.parquet(f"{SF_CORRECT}/documents.parquet")
    corpus = DT.augmented_corpus(docs)
    exact = DT.ngram_jaccard_pairs(corpus, threshold=0.5)
    capped = DT.ngram_jaccard_pairs(corpus, threshold=0.5, max_shingle_doc_freq=20)
    e = {(r.doc_a, r.doc_b) for r in exact.collect()}
    c = {(r.doc_a, r.doc_b) for r in capped.collect()}
    planted_e = {p for p in e if p[1] - p[0] == DT.AUG_OFFSET}
    planted_c = {p for p in c if p[1] - p[0] == DT.AUG_OFFSET}
    # capped keeps ~all planted pairs (their shingles are rare)
    assert len(planted_c) >= 0.9 * len(planted_e)


def test_ngram_jaccard_prefix_filter_equals_bruteforce(spark):
    """The df-ordered prefix filter must have PERFECT recall at the
    threshold (set-similarity prefix principle): compare the full operator
    against a pure-Python all-pairs computation on random corpora with
    varied overlap structure and thresholds."""
    import random

    for seed, thr in [(1, 0.5), (2, 0.3), (3, 0.7)]:
        rng = random.Random(seed)
        vocab = [f"w{i}" for i in range(40)]
        texts = {}
        for d in range(60):
            texts[d] = " ".join(rng.choice(vocab) for _ in range(rng.randint(1, 40)))
        # mutated copies: drop/append a few words
        for d in range(60, 80):
            base = texts[d - 60].split()
            cut = max(1, len(base) - rng.randint(0, 4))
            texts[d] = " ".join(base[:cut] + [rng.choice(vocab)] * rng.randint(0, 2))
        corpus = spark.createDataFrame(list(texts.items()), "doc_id long, text string")
        got = {
            (r.doc_a, r.doc_b): r.jaccard
            for r in DT.ngram_jaccard_pairs(corpus, threshold=thr).collect()
        }

        def sset(t):
            ws = t.strip().split()
            if len(ws) >= DT.SHINGLE_N:
                return {
                    " ".join(ws[i : i + DT.SHINGLE_N])
                    for i in range(len(ws) - DT.SHINGLE_N + 1)
                }
            return {t.strip()}

        sets = {d: sset(t) for d, t in texts.items()}
        want = {}
        ids = sorted(sets)
        for i, a in enumerate(ids):
            for b in ids[i + 1 :]:
                inter = len(sets[a] & sets[b])
                if inter == 0:
                    continue
                j = round(inter / (len(sets[a]) + len(sets[b]) - inter), 6)
                if j >= thr:
                    want[(a, b)] = j
        assert set(got) == set(want), (
            f"seed={seed} thr={thr}: missing={set(want)-set(got)} "
            f"extra={set(got)-set(want)}"
        )
        for k in want:
            assert abs(got[k] - want[k]) < 1e-9


def test_near_dup_components_chain_and_islands(spark):
    """Hand-built graph: chain 1-2-3 plus island {7,9}; singleton 5 only in
    corpus. Components take the min id; singletons keep themselves."""
    pairs = spark.createDataFrame(
        [(2, 3), (1, 2), (7, 9)], "doc_a long, doc_b long"
    )
    comp = {r.node: r.rep for r in DT.near_dup_components(pairs).collect()}
    assert comp == {1: 1, 2: 1, 3: 1, 7: 7, 9: 7}
    corpus = spark.createDataFrame([(i, "x") for i in (1, 2, 3, 5, 7, 9)], "doc_id long, text string")
    res = {r.doc_id: (r.rep_id, r.is_kept) for r in DT.near_dup_resolution(corpus, pairs).collect()}
    assert res == {1: (1, True), 2: (1, False), 3: (1, False),
                   5: (5, True), 7: (7, True), 9: (7, False)}


def test_near_dup_components_long_chain_converges(spark):
    # diameter > 2 forces multiple propagation rounds
    edges = [(i, i + 1) for i in range(10, 20)]
    pairs = spark.createDataFrame(edges, "doc_a long, doc_b long")
    comp = {r.node: r.rep for r in DT.near_dup_components(pairs).collect()}
    assert set(comp.values()) == {10} and len(comp) == 11


def test_bpe_token_count_differs_from_whitespace_on_real_text(spark):
    from bensp_suite_spark.operators import text_analysis as TA

    docs = spark.createDataFrame(
        [(1, "don't stop-believing, it's 2024!"), (2, "plain words only")],
        "doc_id long, text string",
    )
    rows = {r.doc_id: (r.n_bpe_tokens, r.n_ws_tokens) for r in TA.bpe_token_count(docs).collect()}
    # "don" "'t" " stop" "-" "believing" "," " it" "'s" " " "2024" "!" → the
    # pre-tokenizer splits contractions/punct/digits that whitespace lumps
    assert rows[1][0] > rows[1][1]
    assert rows[2] == (3, 3)


def test_pq_ann_exact_at_full_refine(spark):
    """With refine covering the corpus, PQ candidates are everything and
    the exact re-rank must reproduce brute force bit-for-bit."""
    from bensp_suite_spark.operators import similarity as SIM
    from bensp_suite_spark.tables import load_table

    from .conftest import SF_CORRECT

    emb = load_table(spark, SF_CORRECT, "embeddings")
    q = emb.filter(F.col("vec_id") < 8)
    bf = sorted(map(tuple, SIM.cosine_topk_bruteforce(q, emb, k=5).collect()))
    pq = sorted(map(tuple, SIM.pq_ann_topk(q, emb, k=5, refine=100).collect()))
    assert pq == bf


def test_pq_ann_recall_and_determinism(spark):
    from bensp_suite_spark.operators import similarity as SIM
    from bensp_suite_spark.tables import load_table

    from .conftest import SF_CORRECT

    emb = load_table(spark, SF_CORRECT, "embeddings")
    q = emb.filter(F.col("vec_id") < 8)
    bf = {}
    for r in SIM.cosine_topk_bruteforce(q, emb, k=5).collect():
        bf.setdefault(r.query_id, set()).add(r.neighbor_id)
    run1 = SIM.pq_ann_topk(q, emb, k=5, refine=10).collect()
    pq = {}
    for r in run1:
        pq.setdefault(r.query_id, set()).add(r.neighbor_id)
    recall = sum(len(bf[i] & pq.get(i, set())) / len(bf[i]) for i in bf) / len(bf)
    assert recall >= 0.6, recall  # 10% compressed-domain scan of the corpus
    # bit-stable across runs (golden-oracle prerequisite)
    run2 = SIM.pq_ann_topk(q, emb, k=5, refine=10).collect()
    assert sorted(map(tuple, run1)) == sorted(map(tuple, run2))


def test_curation_pipeline_composes_stage_semantics(spark):
    """Pipeline survivors are exactly: quality-kept ∩ dedup-winners ∖
    contaminated ∖ benchmark-slice — and packing offsets are gapless
    per-source running sums over survivors."""
    from bensp_suite_spark.pipelines import curation as CUR
    from bensp_suite_spark.tables import load_table

    docs = load_table(spark, SF_CORRECT, "documents")
    out = CUR.curate_corpus(docs).collect()
    got_ids = {r.doc_id for r in out}

    kept = {r.doc_id for r in CUR.quality_keep(docs).collect()}
    winners = {r.doc_id for r in CUR.dedup_winners(docs).collect()}
    dirty = {r.doc_id for r in CUR.contaminated(docs, "src0").collect()}
    non_bench = {r.doc_id for r in docs.filter("source <> 'src0'").select("doc_id").collect()}
    assert got_ids == (kept & winners & non_bench) - dirty

    # offsets: contiguous running sum per source in doc_id order
    by_src = {}
    for r in sorted(out, key=lambda r: (r.source, r.doc_id)):
        expect = by_src.get(r.source, 0)
        assert r.start_offset == expect, (r.doc_id, r.start_offset, expect)
        assert r.window_id == expect // 8192
        by_src[r.source] = expect + r.n_tokens


def test_curation_pipeline_plan_quality(spark):
    """One logical plan, zero Python UDFs, benchmark grams broadcast."""
    from bensp_suite_spark import plans as PL
    from bensp_suite_spark import queries as Q

    df = Q.QUERIES["curation_pipeline"](spark, SF_CORRECT)
    PL.assert_no_python_udf(df, what="curation_pipeline")
    assert "BroadcastHashJoin" in PL.executed_plan(df)


def test_quality_checks_counts_planted_violations(spark):
    """Exact violation counts for planted bad rows, all check kinds."""
    from bensp_suite_spark.operators import quality_checks as QC

    rows = [
        (1, "a@x.com", 5.0, "A"),
        (2, None, 5.0, "A"),          # not_null email
        (3, "b@x.com", -1.0, "N"),    # range
        (4, "bad", 5.0, "R"),         # pattern
        (5, "c@x.com", 5.0, "Z"),     # accepted_values
        (5, "d@x.com", 5.0, "A"),     # duplicate id
    ]
    df = spark.createDataFrame(rows, "id long, email string, score double, flag string")
    rep = {
        r.check: (r.violations, r.total, r.passed)
        for r in QC.run_checks(
            df,
            checks=[
                QC.not_null("email"),
                QC.in_range("score", 0, 10),
                QC.matches("email", r"^[^@]+@[^@]+$", name="email_format"),
                QC.accepted_values("flag", ["A", "N", "R"]),
            ],
            unique_keys=[["id"]],
        ).collect()
    }
    assert rep["not_null(email)"] == (1, 6, False)
    assert rep["in_range(score,0,10)"] == (1, 6, False)
    # pattern check: None rlike → null → ~null → null → not counted by
    # sum(when) unless true; planted 'bad' counts, the NULL email does not
    assert rep["email_format"] == (1, 6, False)
    assert rep["accepted_values(flag)"] == (1, 6, False)
    assert rep["unique(id)"] == (1, 6, False)


def _count_waves(monkeypatch, module) -> list:
    """Spy on ``module._waves``: the query count of each wave it probes."""
    real = SIM._waves
    waves: list = []

    def spy(q_sel, probe, *args):
        def counted(qids, qmat, chunk):
            waves.append(len(qids))
            return probe(qids, qmat, chunk)

        return real(q_sel, counted, *args)

    monkeypatch.setattr(module, "_waves", spy)
    return waves


def test_pq_ann_chunked_fallback_parity(spark, monkeypatch):
    """Above QUERY_BATCH_LIMIT pq_ann_topk hash-chunks the query batch so
    no driver collect/closure ever exceeds the limit; the chunked path
    must be result-identical to the single-closure collect path (the scan
    never looks across queries, so the union is exact)."""
    from bensp_suite_spark.tables import load_table

    emb = load_table(spark, SF_CORRECT, "embeddings")
    q = emb.filter(F.col("vec_id") < 8)
    base = sorted(map(tuple, SIM.pq_ann_topk(q, emb, k=5, refine=10).collect()))
    monkeypatch.setattr(SIM, "QUERY_BATCH_LIMIT", 3)
    waves = _count_waves(monkeypatch, SIM)
    chunked = sorted(map(tuple, SIM.pq_ann_topk(q, emb, k=5, refine=10).collect()))
    assert chunked == base
    assert len(waves) >= 2 and sum(waves) == 8


def test_prebuilt_ann_indexes_match_inline(spark, tmp_path):
    """save/load round-trip for the PQ and IVF indexes: a prebuilt query
    must rank identically to the inline build (the --index contract the
    ferret CLI already has, extended to the embedding ANN families)."""
    from bensp_suite_spark.tables import load_table

    emb = load_table(spark, SF_CORRECT, "embeddings")
    q = emb.filter(F.col("vec_id") < 8)

    inline_pq = sorted(map(tuple, SIM.pq_ann_topk(q, emb, k=5, refine=10).collect()))
    SIM.save_pq_index(emb, str(tmp_path / "pq"))
    idx = SIM.load_pq_index(spark, str(tmp_path / "pq"))
    prebuilt_pq = sorted(
        map(tuple, SIM.pq_ann_topk(q, emb, k=5, refine=10, index=idx).collect())
    )
    assert prebuilt_pq == inline_pq

    inline_ivf = sorted(
        map(tuple, SIM.ivf_ann_topk(q, emb, k=5, n_cells=16, n_probe=2).collect())
    )
    SIM.save_ivf_index(emb, str(tmp_path / "ivf"), n_cells=16)
    iidx = SIM.load_ivf_index(spark, str(tmp_path / "ivf"))
    prebuilt_ivf = sorted(
        map(
            tuple,
            SIM.ivf_ann_topk(q, emb, k=5, n_cells=16, n_probe=2, index=iidx).collect(),
        )
    )
    assert prebuilt_ivf == inline_ivf

    inline_lsh = sorted(map(tuple, SIM.lsh_ann_topk(q, emb, k=5, dim=64).collect()))
    SIM.save_lsh_index(emb, str(tmp_path / "lsh"), dim=64)
    lidx = SIM.load_lsh_index(spark, str(tmp_path / "lsh"))
    prebuilt_lsh = sorted(
        map(tuple, SIM.lsh_ann_topk(q, emb, k=5, dim=64, index=lidx).collect())
    )
    assert prebuilt_lsh == inline_lsh


def test_passages_tile_documents_exactly(spark):
    """Passage invariants vs a pure-Python reference: passages tile each
    document exactly (count = ceil(words/P), in order, md5 of the exact
    word slices — final ragged passage included)."""
    import hashlib
    import math
    import re

    from bensp_suite_spark.tables import load_table

    docs = load_table(spark, SF_CORRECT, "documents").select("doc_id", "text").limit(60)
    rows = DT.passages(docs).collect()
    by_doc: dict = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append((r.passage_idx, r.passage_md5))
    P = DT.PASSAGE_WORDS
    for r in docs.collect():
        ws = re.sub(r"\s+", " ", r.text.strip()).split(" ")
        n = max(math.ceil(len(ws) / P), 1)
        want = [
            hashlib.md5(" ".join(ws[i * P:(i + 1) * P]).encode()).hexdigest()
            for i in range(n)
        ]
        got = [h for _, h in sorted(by_doc[r.doc_id])]
        assert got == want, r.doc_id


@pytest.mark.slow
def test_trained_quantizers_beat_deterministic_on_skewed_corpus(spark, tmp_path):
    """The deterministic quantizer builds (lowest-id centroids / lowest-id
    training sample) exist for oracle-ability; on a corpus where the low
    ids all sit in one tight cluster they are maximally biased. The
    trained builds (MLlib KMeans for IVF, random-sample kmeans++ Lloyd
    for PQ) must recover: recall vs exact brute-force top-k at least as
    good as the deterministic build on the same skewed corpus, and
    strictly better for PQ (whose ADC ranking collapses when the
    codebooks never saw most of the space)."""
    import numpy as np

    rng = np.random.default_rng(99)
    dim, n = 16, 4096
    rows = []
    centers = rng.standard_normal((8, dim)) * 5.0
    for i in range(n):
        if i < 2300:
            # low ids: one tight cluster — the deterministic builds train here
            v = centers[0] + rng.standard_normal(dim) * 0.05
        else:
            v = centers[1 + (i % 7)] + rng.standard_normal(dim) * 0.3
        rows.append((i, [float(x) for x in v.astype(np.float32)]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>").repartition(8)
    emb = emb.persist()
    emb.count()
    # queries from the region the deterministic sample never saw
    q = emb.filter(F.col("vec_id") >= 4080)
    k = 5
    try:
        exact = {}
        for r in SIM.cosine_topk_bruteforce(q, emb, k=k).collect():
            exact.setdefault(r.query_id, set()).add(r.neighbor_id)

        def recall(df):
            got = {}
            for r in df.collect():
                got.setdefault(r.query_id, set()).add(r.neighbor_id)
            return sum(
                len(got.get(qid, set()) & want) / len(want)
                for qid, want in exact.items()
            ) / len(exact)

        det_books = SIM.pq_codebooks(emb, train_sample=2048)
        trn_books = SIM.pq_codebooks_trained(emb, train_sample=2048)
        det_pq = recall(
            SIM.pq_ann_topk(q, emb, k=k, refine=20,
                            index=(det_books, SIM.pq_encode(emb, det_books)))
        )
        trn_pq = recall(
            SIM.pq_ann_topk(q, emb, k=k, refine=20,
                            index=(trn_books, SIM.pq_encode(emb, trn_books)))
        )
        # measured on this fixture: det 0.51, trn 0.81 (refine=20) — the
        # biased sample must hurt by a wide margin, not a tie-break
        assert trn_pq > det_pq + 0.15
        assert trn_pq >= 0.75

        det_cent = SIM.ivf_centroids(emb, n_cells=16)
        trn_cent = SIM.ivf_centroids_trained(emb, n_cells=16)

        def ivf_index(cent):
            cells = SIM.ivf_assign(
                emb.select(F.col("vec_id").alias("neighbor_id"),
                           F.col("embedding").alias("cv")),
                cent, 1, "neighbor_id", "cv",
            )
            return cent, cells

        def candidate_cost(cent, cells):
            """Rows the probe join scans: Σ over queries of probed-cell sizes.
            The degenerate deterministic centroids collapse the corpus into
            a couple of cells, so 2-probe recall is trivially high — at the
            cost of scanning nearly everything. The meaningful comparison
            is recall AT the candidate budget the partitioning delivers."""
            sizes = {r["cell"]: r["n"] for r in
                     cells.groupBy("cell").agg(F.count(F.lit(1)).alias("n")).collect()}
            probes = SIM.ivf_assign(
                q.select(F.col("vec_id").alias("qid"), F.col("embedding").alias("qv")),
                cent, 2, "qid", "qv",
            ).collect()
            per_q: dict = {}
            for r in probes:
                per_q.setdefault(r["qid"], []).append(sizes.get(r["cell"], 0))
            return sum(sum(v) for v in per_q.values())

        det_idx, trn_idx = ivf_index(det_cent), ivf_index(trn_cent)
        det_ivf = recall(SIM.ivf_ann_topk(q, emb, k=k, n_probe=2, index=det_idx))
        trn_ivf = recall(SIM.ivf_ann_topk(q, emb, k=k, n_probe=2, index=trn_idx))
        assert trn_ivf >= 0.95
        det_cost = candidate_cost(*det_idx)
        trn_cost = candidate_cost(*trn_idx)
        # trained partitioning must actually prune: same recall regime at
        # a fraction of the scan (measured: det scans ~2x the rows)
        assert trn_cost < 0.6 * det_cost, (trn_cost, det_cost, det_ivf, trn_ivf)
    finally:
        emb.unpersist()


def test_ngram_jaccard_naive_matches_prefix_filtered(spark):
    """prefix_filter=False (full inverted index) must produce the exact
    same pair set as the PPJoin prefix path — the prefix is a candidate
    pruning, never a semantics change. Includes a planted hot shingle so
    the naive path's quadratic fan-out regime is the one compared."""
    hot = "the quick brown fox jumps over the lazy dog "
    corpus = spark.createDataFrame(
        [(i, hot + f"unique tail {i} alpha{i} beta{i}") for i in range(40)]
        + [(100, hot + "unique tail 7 alpha7 beta7")],  # near-dup of doc 7
        "doc_id long, text string",
    )
    fast = sorted(map(tuple, DT.ngram_jaccard_pairs(corpus, threshold=0.5).collect()))
    naive = sorted(
        map(
            tuple,
            DT.ngram_jaccard_pairs(corpus, threshold=0.5, prefix_filter=False).collect(),
        )
    )
    assert fast == naive
    assert any(a == 7 and b == 100 for a, b, _j in fast)


@pytest.mark.slow
def test_trained_quantizer_builds_are_layout_independent(spark):
    """The trained IVF/PQ builds must produce identical centroids and
    codebooks regardless of how the corpus is partitioned: sample().limit()
    alone selects rows partition-layout-dependently, so the builds order
    the bounded sample by a hash of the id before the limit (ADVICE r3).
    Repartitioning the same corpus must not change the trained index."""
    import numpy as np
    from pyspark.sql import functions as F

    from bensp_suite_spark.operators import similarity as SIM

    emb = (
        spark.read.parquet(f"{SF_CORRECT}/embeddings.parquet")
        .select("vec_id", "embedding")
    )
    variants = [emb.repartition(3), emb.repartition(17, "vec_id"), emb.coalesce(1)]

    cents = [
        sorted(
            (r["cell"], tuple(round(x, 9) for x in r["centroid"]))
            for r in SIM.ivf_centroids_trained(v, n_cells=4, sample_cap=256).collect()
        )
        for v in variants
    ]
    assert cents[0] == cents[1] == cents[2]

    books = [
        SIM.pq_codebooks_trained(v, n_subspaces=4, n_centroids=8, train_sample=256)
        for v in variants
    ]
    assert np.array_equal(books[0], books[1]) and np.array_equal(books[0], books[2])


def test_ivf_upsert_equals_full_rebuild(spark, tmp_path):
    """upsert_ivf_index must leave the assignments table row-identical
    (as a set) to a from-scratch build over the union corpus with the
    same centroids — incremental maintenance is a pure append of
    deterministic assignments, never an approximation."""
    emb = spark.read.parquet(f"{SF_CORRECT}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    half = emb.agg(F.expr("cast(max(vec_id)/2 as long)").alias("m")).collect()[0]["m"]
    up_path = str(tmp_path / "up")
    SIM.save_ivf_index(emb.filter(F.col("vec_id") <= half), up_path, n_cells=8)
    SIM.upsert_ivf_index(spark, up_path, emb.filter(F.col("vec_id") > half))
    full_path = str(tmp_path / "full")
    SIM.save_ivf_index(emb, full_path, n_cells=8)

    def cells(path):
        _cent, c = SIM.load_ivf_index(spark, path)
        return {(r["neighbor_id"], r["cell"]) for r in c.collect()}

    assert cells(up_path) == cells(full_path)


def test_lsh_and_pq_upsert_equal_full_rebuild(spark, tmp_path):
    """LSH signatures and PQ codes appended by the upsert paths must be
    set-identical to full rebuilds over the union corpus (hyperplanes
    are seed-derived; codes are deterministic per codebook), and the
    prebuilt query paths must rank identically through either index."""
    emb = spark.read.parquet(f"{SF_CORRECT}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    half = emb.agg(F.expr("cast(max(vec_id)/2 as long)").alias("m")).collect()[0]["m"]
    old, new = emb.filter(F.col("vec_id") <= half), emb.filter(F.col("vec_id") > half)

    lsh_up, lsh_full = str(tmp_path / "lsh_up"), str(tmp_path / "lsh_full")
    SIM.save_lsh_index(old, lsh_up)
    SIM.upsert_lsh_index(spark, lsh_up, new)
    SIM.save_lsh_index(emb, lsh_full)
    sig = lambda p: {
        (r["neighbor_id"], r["table"], r["bucket"])
        for r in SIM.load_lsh_index(spark, p).collect()
    }
    assert sig(lsh_up) == sig(lsh_full)

    pq_up, pq_full = str(tmp_path / "pq_up"), str(tmp_path / "pq_full")
    # codebooks must come from the SAME corpus slice in both builds for
    # code parity (lowest-id training sample lives in `old`)
    SIM.save_pq_index(old, pq_up)
    SIM.upsert_pq_index(spark, pq_up, new)
    books_up, codes_up = SIM.load_pq_index(spark, pq_up)
    # full rebuild with the same codebooks: encode the union directly
    codes_full = SIM.pq_encode(emb, books_up)
    got = {(r["neighbor_id"], tuple(r["codes"])) for r in codes_up.collect()}
    want = {(r["neighbor_id"], tuple(r["codes"])) for r in codes_full.collect()}
    assert got == want


@pytest.mark.parametrize("family", ["ivf", "ivfpq", "lsh", "pq"])
def test_replayed_ann_upsert_changes_nothing(spark, tmp_path, family):
    """An upsert replayed with the same vectors (a retried step, a crashed
    stream batch) must leave the index as one upsert left it: the same
    row count and the same probe output, with no duplicate neighbours."""
    emb = spark.read.parquet(f"{SF_CORRECT}/embeddings.parquet").select(
        "vec_id", "embedding"
    ).filter("vec_id < 160")
    old, new, q = emb.filter("vec_id < 120"), emb.filter("vec_id >= 120"), emb.filter("vec_id < 5")
    path = str(tmp_path / family)
    save, upsert, table, probe = {
        "ivf": (
            lambda: SIM.save_ivf_index(old, path, n_cells=8),
            SIM.upsert_ivf_index, "/cells",
            lambda: SIM.ivf_ann_topk(q, emb, k=5, index=SIM.load_ivf_index(spark, path)),
        ),
        "ivfpq": (
            lambda: SIM.save_ivfpq_index(old, path, n_cells=8, n_centroids=16),
            SIM.upsert_ivfpq_index, "/coded",
            lambda: SIM.ivfpq_ann_topk(
                q, emb, k=5, index=SIM.load_ivfpq_index(spark, path)[:3]
            ),
        ),
        "lsh": (
            lambda: SIM.save_lsh_index(old, path),
            SIM.upsert_lsh_index, "",
            lambda: SIM.lsh_ann_topk(q, emb, k=5, index=SIM.load_lsh_index(spark, path)),
        ),
        "pq": (
            lambda: SIM.save_pq_index(old, path),
            SIM.upsert_pq_index, "/codes",
            lambda: SIM.pq_ann_topk(q, emb, k=5, index=SIM.load_pq_index(spark, path)),
        ),
    }[family]
    save()

    def upserted():
        upsert(spark, path, new)
        rows = spark.read.parquet(path + table).count()
        return rows, sorted(map(tuple, probe().collect()))

    once = upserted()
    assert upserted() == once


def test_ivfpq_all_cells_high_refine_equals_bruteforce(spark):
    """IVF-PQ degenerates to exact search when every cell is probed and
    refine·k covers the corpus: the ADC cut keeps everything and the
    exact re-rank IS brute force — the end-to-end correctness anchor for
    the composed index (same anchor pattern as the PQ/LSH families)."""
    emb = spark.read.parquet(f"{SF_CORRECT}/embeddings.parquet").filter(
        F.col("vec_id") < 80
    )
    queries = emb.filter(F.col("vec_id") < 6)
    exact = sorted(
        map(tuple, SIM.cosine_topk_bruteforce(queries, emb, k=5).collect())
    )
    got = sorted(
        map(
            tuple,
            SIM.ivfpq_ann_topk(
                queries, emb, k=5, n_cells=4, n_probe=4, n_centroids=16, refine=16
            ).collect(),
        )
    )
    assert got == exact


def test_ivfpq_probe_subset_recall_and_auto_sizing(spark):
    """Probing a cell subset returns k valid ranked rows per query with
    reasonable recall vs brute force, and n_cells=None auto-sizes via
    ivf_defaults without error."""
    emb = spark.read.parquet(f"{SF_CORRECT}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 8)
    exact = {
        (r.query_id, r.neighbor_id)
        for r in SIM.cosine_topk_bruteforce(queries, emb, k=5).collect()
    }
    approx = SIM.ivfpq_ann_topk(queries, emb, k=5, n_cells=None, n_probe=None).collect()
    per_q = {}
    for r in approx:
        per_q.setdefault(r.query_id, []).append(r.rank)
    assert all(sorted(v) == [1, 2, 3, 4, 5] for v in per_q.values())
    a = {(r.query_id, r.neighbor_id) for r in approx}
    assert len(a & exact) / len(exact) >= 0.5  # probe floor 8 of 22 cells


def test_ivfpq_upsert_equals_full_encode(spark, tmp_path):
    """upsert_ivfpq_index appends assign+encode of ONLY the new vectors;
    the coded table must equal a from-scratch encode of the union corpus
    with the same persisted centroids+codebooks (raw-vector codes are
    cell-independent — the property that makes upsert a pure append),
    and the prebuilt query path returns identically after the upsert."""
    emb = spark.read.parquet(f"{SF_CORRECT}/embeddings.parquet")
    base = emb.filter(F.col("vec_id") < 400)
    extra = emb.filter(F.col("vec_id") >= 400)
    path = str(tmp_path / "ivfpq")
    SIM.save_ivfpq_index(base, path, n_cells=8, n_centroids=16)
    SIM.upsert_ivfpq_index(spark, path, extra)
    cent, books, coded_up, meta = SIM.load_ivfpq_index(spark, path)
    assert meta == {"residual": False}
    cassign = SIM.ivf_assign(
        emb.select(F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("cv")),
        cent, 1, "neighbor_id", "cv",
    ).select("neighbor_id", "cell")
    coded_full = SIM.pq_encode(emb, books).join(cassign, "neighbor_id")
    got = {(r["neighbor_id"], tuple(r["codes"]), r["cell"]) for r in coded_up.collect()}
    want = {(r["neighbor_id"], tuple(r["codes"]), r["cell"]) for r in coded_full.collect()}
    assert got == want
    q = emb.filter(F.col("vec_id") < 5)
    via_idx = sorted(map(tuple, SIM.ivfpq_ann_topk(
        q, emb, k=5, n_probe=2, index=(cent, books, coded_up)).collect()))
    via_full = sorted(map(tuple, SIM.ivfpq_ann_topk(
        q, emb, k=5, n_probe=2, index=(cent, books, coded_full)).collect()))
    assert via_idx == via_full


def test_ivfpq_residual_exact_at_full_probe_and_beats_raw(spark):
    """Residual IVF-PQ == brute force at full probe/high refine (the same
    correctness anchor as the raw path), and at tight settings residual
    codes recall at least as well as raw codes at EQUAL bits — the
    quantization-error argument for FAISS's residual encoding (the bench
    gaussian probe measures the same ordering at 20k/100k)."""
    emb = spark.read.parquet(f"{SF_CORRECT}/embeddings.parquet")
    small = emb.filter(F.col("vec_id") < 80)
    q = small.filter(F.col("vec_id") < 6)
    exact = sorted(
        map(tuple, SIM.cosine_topk_bruteforce(q, small, k=5).collect())
    )
    got = sorted(
        map(
            tuple,
            SIM.ivfpq_ann_topk(
                q, small, k=5, n_cells=4, n_probe=4, n_centroids=16, refine=16,
                residual=True,
            ).collect(),
        )
    )
    assert got == exact
    # equal-bits recall comparison at a tight probe on the full table
    qs = emb.filter(F.col("vec_id") < 12)
    brute = {
        (r.query_id, r.neighbor_id)
        for r in SIM.cosine_topk_bruteforce(qs, emb, k=5).collect()
    }
    def rec(residual):
        a = {
            (r.query_id, r.neighbor_id)
            for r in SIM.ivfpq_ann_topk(
                qs, emb, k=5, n_cells=16, n_probe=4, n_centroids=16, refine=8,
                residual=residual,
            ).collect()
        }
        return len(a & brute) / len(brute)
    assert rec(True) >= rec(False)


def test_binary_quant_full_refine_equals_bruteforce_and_recall(spark):
    """Binary-quantization ANN degenerates to exact search when refine·k
    covers the corpus (the hamming cut keeps everything and the exact
    re-rank IS brute force — the family's correctness anchor), and at a
    tight refine the sign-mask coarse pass still recalls most true
    neighbors on the gaussian fixture (sign bits preserve direction)."""
    emb = spark.read.parquet(f"{SF_CORRECT}/embeddings.parquet").filter(
        F.col("vec_id") < 80
    )
    q = emb.filter(F.col("vec_id") < 6)
    exact = sorted(
        map(tuple, SIM.cosine_topk_bruteforce(q, emb, k=5).collect())
    )
    got = sorted(
        map(
            tuple,
            SIM.binary_quant_ann_topk(q, emb, k=5, refine=16).collect(),
        )
    )
    assert got == exact  # 16*5 = 80 >= corpus
    full = spark.read.parquet(f"{SF_CORRECT}/embeddings.parquet")
    qs = full.filter(F.col("vec_id") < 12)
    brute = {
        (r.query_id, r.neighbor_id)
        for r in SIM.cosine_topk_bruteforce(qs, full, k=5).collect()
    }
    approx = {
        (r.query_id, r.neighbor_id)
        for r in SIM.binary_quant_ann_topk(qs, full, k=5, refine=8).collect()
    }
    assert len(approx & brute) / len(brute) >= 0.5


def test_sq8_full_refine_equals_bruteforce_and_recall(spark):
    """SQ8 ANN degenerates to exact search when refine·k covers the
    corpus (the family's correctness anchor), and — unlike the 1-bit
    mode — 8-bit affine quantization is nearly lossless at 64 dims, so
    even a TIGHT refine recovers essentially all true neighbors on the
    gaussian fixture."""
    emb = spark.read.parquet(f"{SF_CORRECT}/embeddings.parquet").filter(
        F.col("vec_id") < 80
    )
    q = emb.filter(F.col("vec_id") < 6)
    exact = sorted(
        map(tuple, SIM.cosine_topk_bruteforce(q, emb, k=5).collect())
    )
    got = sorted(
        map(tuple, SIM.sq8_ann_topk(q, emb, k=5, refine=16).collect())
    )
    assert got == exact  # 16*5 = 80 >= corpus
    full = spark.read.parquet(f"{SF_CORRECT}/embeddings.parquet")
    qs = full.filter(F.col("vec_id") < 12)
    brute = {
        (r.query_id, r.neighbor_id)
        for r in SIM.cosine_topk_bruteforce(qs, full, k=5).collect()
    }
    approx = {
        (r.query_id, r.neighbor_id)
        for r in SIM.sq8_ann_topk(qs, full, k=5, refine=2).collect()
    }
    # 8-bit quantization error is tiny: near-perfect recall at refine=2
    assert len(approx & brute) / len(brute) >= 0.95


def test_ivfpq_wave_probing_parity(spark, monkeypatch):
    """Above QUERY_BATCH_LIMIT ivfpq_ann_topk probes in hash-chunked
    WAVES (no caller-side chunking, no ValueError): per-wave ADC tables
    stay bounded while the coded corpus is cached across waves. The
    waved path must be result-identical to the single-wave path on both
    code conventions — the ADC scan never looks across queries, so the
    union is exact."""
    emb = spark.read.parquet(f"{SF_CORRECT}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 8)
    for residual in (False, True):
        kw = dict(k=5, n_cells=8, n_probe=3, n_centroids=16, refine=6,
                  residual=residual)
        base = sorted(map(tuple, SIM.ivfpq_ann_topk(q, emb, **kw).collect()))
        monkeypatch.setattr(SIM, "QUERY_BATCH_LIMIT", 3)
        waves = _count_waves(monkeypatch, SIM)
        waved = sorted(map(tuple, SIM.ivfpq_ann_topk(q, emb, **kw).collect()))
        monkeypatch.undo()
        assert waved == base
        assert len(waves) >= 2 and sum(waves) == 8


def test_ivfpq_residual_index_roundtrip_and_convention_guard(spark, tmp_path):
    """save_ivfpq_index(residual=True) persists residual-coded rows AND
    the convention in meta; loading + probing with residual=True matches
    the inline residual build, upsert appends residual codes, and a
    mismatched residual= flag raises instead of silently computing ADC
    against the wrong convention (the r7 ADVICE finding)."""
    import pytest as _pytest

    emb = spark.read.parquet(f"{SF_CORRECT}/embeddings.parquet")
    base = emb.filter(F.col("vec_id") < 400)
    extra = emb.filter(F.col("vec_id") >= 400)
    q = emb.filter(F.col("vec_id") < 5)
    # full-corpus index: probe must equal the inline residual build (same
    # training corpus → identical deterministic codebooks)
    path = str(tmp_path / "ivfpq_res")
    SIM.save_ivfpq_index(emb, path, n_cells=8, n_centroids=16, residual=True)
    idx = SIM.load_ivfpq_index(spark, path)
    assert idx[3] == {"residual": True}
    via_idx = sorted(map(tuple, SIM.ivfpq_ann_topk(
        q, emb, k=5, n_probe=2, refine=4, index=idx, residual=True
    ).collect()))
    inline = sorted(map(tuple, SIM.ivfpq_ann_topk(
        q, emb, k=5, n_cells=8, n_probe=2, n_centroids=16, refine=4,
        residual=True,
    ).collect()))
    assert via_idx == inline
    with _pytest.raises(ValueError, match="residual"):
        SIM.ivfpq_ann_topk(q, emb, k=5, n_probe=2, index=idx, residual=False)
    # upsert appends residual codes against the FROZEN base centroids/
    # codebooks: coded table == from-scratch encode of the union with the
    # same persisted artifacts
    up_path = str(tmp_path / "ivfpq_res_up")
    SIM.save_ivfpq_index(base, up_path, n_cells=8, n_centroids=16, residual=True)
    SIM.upsert_ivfpq_index(spark, up_path, extra)
    cent, books, coded_up, meta = SIM.load_ivfpq_index(spark, up_path)
    assert meta == {"residual": True}
    cassign = SIM.ivf_assign(
        emb.select(F.col("vec_id").alias("neighbor_id"),
                   F.col("embedding").alias("cv")),
        cent, 1, "neighbor_id", "cv",
    ).select("neighbor_id", "cell")
    coded_full = SIM._ivfpq_encode(
        emb, cent, cassign, books, "vec_id", "embedding", True
    )
    got = {(r["neighbor_id"], tuple(r["codes"]), r["cell"])
           for r in coded_up.collect()}
    want = {(r["neighbor_id"], tuple(r["codes"]), r["cell"])
            for r in coded_full.collect()}
    assert got == want
    # and the other direction: a raw index probed with residual=True
    raw_path = str(tmp_path / "ivfpq_raw")
    SIM.save_ivfpq_index(base, raw_path, n_cells=8, n_centroids=16)
    raw_idx = SIM.load_ivfpq_index(spark, raw_path)
    with _pytest.raises(ValueError, match="raw"):
        SIM.ivfpq_ann_topk(q, emb, k=5, n_probe=2, index=raw_idx, residual=True)


def test_nsw_full_ef_equals_bruteforce_and_recall(spark):
    """Sharded-NSW graph ANN degenerates to exact search when ef_search
    covers each shard (the NSW graph is connected by construction —
    every insert links to at least one earlier node — so an unbounded
    beam visits the whole shard and the exact re-rank IS brute force:
    the family's correctness anchor), and at the declared query's
    production shape (m=8, ef_build=24, ef_search=16) the graph recalls
    essentially all true neighbors on the gaussian fixture."""
    from bensp_suite_spark.operators import graph_ann as GA

    emb = spark.read.parquet(f"{SF_CORRECT}/embeddings.parquet").filter(
        F.col("vec_id") < 80
    )
    q = emb.filter(F.col("vec_id") < 6)
    exact = sorted(
        map(tuple, SIM.cosine_topk_bruteforce(q, emb, k=5).collect())
    )
    got = sorted(
        map(
            tuple,
            GA.nsw_ann_topk(
                q, emb, k=5, n_shards=4, m=8, ef_build=24, ef_search=32
            ).collect(),
        )
    )
    assert got == exact  # ef 32 >= 20-node shards: beam == exhaustive
    full = spark.read.parquet(f"{SF_CORRECT}/embeddings.parquet")
    qs = full.filter(F.col("vec_id") < 12)
    brute = {
        (r.query_id, r.neighbor_id)
        for r in SIM.cosine_topk_bruteforce(qs, full, k=5).collect()
    }
    approx = {
        (r.query_id, r.neighbor_id)
        for r in GA.nsw_ann_topk(
            qs, full, k=5, n_shards=4, m=8, ef_build=24, ef_search=16
        ).collect()
    }
    assert len(approx & brute) / len(brute) >= 0.9


def test_nsw_wave_probing_parity(spark, monkeypatch):
    """Above QUERY_BATCH_LIMIT nsw_ann_topk collects queries in
    hash-chunked waves; per-query beam searches never look across
    queries, so the waved union must be result-identical to the
    single-wave path."""
    from bensp_suite_spark.operators import graph_ann as GA

    emb = spark.read.parquet(f"{SF_CORRECT}/embeddings.parquet").filter(
        F.col("vec_id") < 120
    )
    q = emb.filter(F.col("vec_id") < 10)
    kw = dict(k=3, n_shards=3, m=6, ef_build=16, ef_search=12)
    base = sorted(map(tuple, GA.nsw_ann_topk(q, emb, **kw).collect()))
    monkeypatch.setattr(SIM, "QUERY_BATCH_LIMIT", 3)
    waves = _count_waves(monkeypatch, GA)
    waved = sorted(map(tuple, GA.nsw_ann_topk(q, emb, **kw).collect()))
    monkeypatch.undo()
    assert waved == base
    assert len(waves) >= 2 and sum(waves) == 10


def test_nsw_build_determinism_and_degree_cap(spark):
    """The NSW adjacency is a pure function of the (ordered) shard
    vectors — two builds are identical — and no node's degree exceeds
    2·m (the prune keeps executor memory per node bounded)."""
    import numpy as np

    from bensp_suite_spark.operators import graph_ann as GA

    rng = np.random.default_rng(7)
    V = rng.standard_normal((150, 16))
    V = V / np.linalg.norm(V, axis=1, keepdims=True)
    m = 5
    a = GA.nsw_build(V, m=m, ef_build=12)
    b = GA.nsw_build(V.copy(), m=m, ef_build=12)
    assert a == b
    assert max(len(x) for x in a) <= 2 * m
    # connected by construction: BFS from 0 reaches every node
    seen = {0}
    frontier = [0]
    while frontier:
        nxt = []
        for u in frontier:
            for v in a[u]:
                if v not in seen:
                    seen.add(v)
                    nxt.append(v)
        frontier = nxt
    assert len(seen) == len(V)


def test_nsw_upsert_empty_shard_matches_rebuild(spark, tmp_path):
    """Upserting into a shard that had ZERO rows at save time must seed
    exactly like nsw_build — the shard's first node gets no edges (the
    build loop starts at i=1). Before the r9 fix the insert loop started
    at i=0 over the empty graph, the self-beam returned the node itself
    and nbrs[0] became a [0,0] self-loop, silently breaking the
    documented rebuild bit-parity for that shard."""
    from bensp_suite_spark.operators import graph_ann as GA

    emb = spark.read.parquet(f"{SF_CORRECT}/embeddings.parquet")
    n_shards = 4
    # initial load has NO ids with residue 2 → shard 2 is empty on disk;
    # the upsert batch lands entirely (and only) in that empty shard
    base = emb.filter((F.col("vec_id") < 60) & (F.col("vec_id") % n_shards != 2))
    add = emb.filter(
        (F.col("vec_id") >= 60)
        & (F.col("vec_id") < 100)
        & (F.col("vec_id") % n_shards == 2)
    )
    path = str(tmp_path / "nsw_empty")
    GA.save_nsw_index(base, path, n_shards=n_shards, m=8, ef_build=24)
    GA.upsert_nsw_index(add, path)
    up_graph, _ = GA.load_nsw_index(spark, path)

    full_path = str(tmp_path / "nsw_full")
    GA.save_nsw_index(
        base.unionByName(add), full_path, n_shards=n_shards, m=8, ef_build=24
    )
    full_graph, _ = GA.load_nsw_index(spark, full_path)

    got = {
        (r["shard"], r["pos"]): (r["vec_id"], list(r["nbrs"]))
        for r in up_graph.collect()
    }
    want = {
        (r["shard"], r["pos"]): (r["vec_id"], list(r["nbrs"]))
        for r in full_graph.collect()
    }
    assert got == want  # bit-identical to the full rebuild, all shards
    # and no node anywhere links to itself
    assert all(pos not in nbrs for (_, pos), (_, nbrs) in got.items())


def _lowrank_emb(spark, n=3000, rank=12, dim=64, seed=23):
    """Low-intrinsic-dimension fixture — the documented shape of real
    neural embeddings and the regime OPQ's rotation exists for."""
    import numpy as np

    rng = np.random.default_rng(seed)
    X = rng.standard_normal((n, rank)) @ rng.standard_normal(
        (rank, dim)
    ) + 0.05 * rng.standard_normal((n, dim))
    return spark.createDataFrame(
        [(int(i), X[i].tolist()) for i in range(n)],
        "vec_id long, embedding array<double>",
    )


def test_opq_full_refine_equals_bruteforce_and_rotation_orthogonal(spark):
    """OPQ ANN degenerates to exact search when refine·k covers the
    corpus (rotation changes the coarse ORDER only; the exact raw-space
    re-rank is untouched — the family's correctness anchor), and the
    learned rotation is orthogonal (an ADC table in the rotated space is
    only valid if the rotation preserves distances)."""
    import numpy as np

    emb = spark.read.parquet(f"{SF_CORRECT}/embeddings.parquet").filter(
        F.col("vec_id") < 80
    )
    q = emb.filter(F.col("vec_id") < 6)
    rot = SIM.opq_rotation(emb, n_subspaces=8, n_centroids=16)
    assert np.allclose(rot @ rot.T, np.eye(64), atol=1e-8)
    exact = sorted(
        map(tuple, SIM.cosine_topk_bruteforce(q, emb, k=5).collect())
    )
    got = sorted(
        map(
            tuple,
            SIM.pq_ann_topk(q, emb, k=5, refine=16, rotation=rot).collect(),
        )
    )
    assert got == exact  # 16*5 = 80 >= corpus


def test_opq_beats_pq_on_lowrank_corpus(spark):
    """On a low-intrinsic-dimension corpus the eigen-allocation rotation
    balances subspace variance and OPQ recalls strictly more true
    neighbors than plain PQ at IDENTICAL code bytes (the operator's
    reason to exist; measured 0.39 vs 0.57 at 20k — asserted here at
    test scale, and at 100k in the bench)."""
    emb = _lowrank_emb(spark)
    q = emb.filter(F.col("vec_id") < 30)
    brute = {
        (r.query_id, r.neighbor_id)
        for r in SIM.cosine_topk_bruteforce(q, emb, k=5).collect()
    }
    pq = {
        (r.query_id, r.neighbor_id)
        for r in SIM.pq_ann_topk(q, emb, k=5, refine=2).collect()
    }
    rot = SIM.opq_rotation(emb, n_subspaces=8, n_centroids=16)
    opq = {
        (r.query_id, r.neighbor_id)
        for r in SIM.pq_ann_topk(q, emb, k=5, refine=2, rotation=rot).collect()
    }
    r_pq = len(pq & brute) / len(brute)
    r_opq = len(opq & brute) / len(brute)
    assert r_opq > r_pq, f"opq {r_opq} must beat pq {r_pq} on low-rank data"


def test_pca_full_refine_equals_bruteforce_and_beats_prefix_on_lowrank(spark):
    """PCA dimension-cut ANN degenerates to exact search when refine·k
    covers the corpus (the cut changes only coarse ORDER; the exact
    re-rank is raw-space — the family's anchor), and on a
    low-intrinsic-dimension corpus the LEARNED 16-dim cut recalls
    strictly more true neighbors than the naive 16-dim prefix slice
    (matryoshka without MRL training) — the operator's reason to
    exist."""
    emb = spark.read.parquet(f"{SF_CORRECT}/embeddings.parquet").filter(
        F.col("vec_id") < 80
    )
    q = emb.filter(F.col("vec_id") < 6)
    exact = sorted(
        map(tuple, SIM.cosine_topk_bruteforce(q, emb, k=5).collect())
    )
    got = sorted(
        map(tuple, SIM.pca_ann_topk(q, emb, k=5, dims=16, refine=16).collect())
    )
    assert got == exact  # 16*5 = 80 >= corpus
    lr = _lowrank_emb(spark)
    qs = lr.filter(F.col("vec_id") < 30)
    brute = {
        (r.query_id, r.neighbor_id)
        for r in SIM.cosine_topk_bruteforce(qs, lr, k=5).collect()
    }
    prefix = {
        (r.query_id, r.neighbor_id)
        for r in SIM.matryoshka_ann_topk(qs, lr, k=5, dims=16, refine=2).collect()
    }
    pca = {
        (r.query_id, r.neighbor_id)
        for r in SIM.pca_ann_topk(qs, lr, k=5, dims=16, refine=2).collect()
    }
    r_prefix = len(prefix & brute) / len(brute)
    r_pca = len(pca & brute) / len(brute)
    assert r_pca > r_prefix, f"pca {r_pca} must beat prefix {r_prefix}"


def test_bpe_train_tokenize_properties(spark):
    """Trained BPE invariants: merges are learned (non-empty, unique),
    token counts sit strictly between whole words and raw symbols for
    multi-char words, more merges never increases the token count, and
    merging is lossless (concatenating a word's tokens reproduces the
    word + end marker)."""
    from bensp_suite_spark.operators import text_analysis as TA

    docs = spark.read.parquet(f"{SF_CORRECT}/documents.parquet")
    m40 = TA.bpe_train(docs, n_merges=40)
    m80 = TA.bpe_train(docs, n_merges=80)
    assert 0 < len(m40) <= 40 and len(set(m40)) == len(m40)
    assert m80[: len(m40)] == m40  # training is a prefix-stable sequence
    stats40 = {r["doc_id"]: r for r in TA.bpe_tokenize_stats(docs, m40).collect()}
    stats80 = {r["doc_id"]: r for r in TA.bpe_tokenize_stats(docs, m80).collect()}
    assert all(
        stats80[d]["n_bpe_tokens"] <= stats40[d]["n_bpe_tokens"] for d in stats40
    )
    some_between = 0
    for d, r in stats40.items():
        assert r["n_words"] <= r["n_bpe_tokens"]
        if r["n_words"] < r["n_bpe_tokens"] < r["n_chars"]:
            some_between += 1
    assert some_between > 400  # mid-merge on essentially every doc
    ranks = {p: i for i, p in enumerate(m40)}
    for w in ("window", "customer", "spark"):
        toks = TA.bpe_apply_word(tuple(w) + (TA.BPE_END,), ranks)
        assert "".join(toks) == w + TA.BPE_END


def test_kcenter_sample_greedy_invariants(spark):
    """Greedy k-center: the seed is the lowest id, selected ids are
    distinct, d2_far is non-increasing (each pick is the farthest
    remaining point, so coverage radius shrinks monotonically), and
    every pick's d2_far matches a brute-force recompute against the
    prior centers — plus the 2-approx sanity: after k picks no corpus
    point is farther than the last d2_far from its nearest center."""
    import numpy as np

    emb = spark.read.parquet(f"{SF_CORRECT}/embeddings.parquet").filter(
        F.col("vec_id") < 200
    )
    got = sorted(
        (r["sel_order"], r["vec_id"], r["d2_far"])
        for r in SIM.kcenter_sample(emb, k=8).collect()
    )
    assert got[0][1] == emb.agg(F.min("vec_id")).collect()[0][0]
    ids = [g[1] for g in got]
    assert len(set(ids)) == 8
    d2s = [g[2] for g in got[1:]]
    assert all(a >= b for a, b in zip(d2s, d2s[1:]))
    # brute recompute
    rows = {r["vec_id"]: np.asarray(r["embedding"], dtype=np.float64)
            for r in emb.collect()}
    V = {i: v for i, v in rows.items()}
    centers = []
    for order, vid, d2 in got:
        if order > 0:
            acc = min(
                float(sum((V[vid][i] - c[i]) ** 2 for i in range(len(c))))
                for c in centers
            )
            assert abs(acc - d2) < 1e-6
        centers.append(V[vid])
    # coverage: no point farther than the last pick's distance (+eps)
    last = got[-1][2]
    worst = max(
        min(float(((v - c) ** 2).sum()) for c in centers) for v in V.values()
    )
    assert worst <= last + 1e-6


def test_kcenter_cells_scale_form_invariants(spark):
    """Two-stage (composable-coreset) Gonzalez: same output schema and
    greedy invariants as the exact form, layout-stable across shuffle
    parallelism, and QUALITY-bounded — the two-stage coverage radius on
    the full corpus is within the composable-coreset constant (≤ 4×, in
    practice ~1-2×) of the exact greedy's radius at the same k. Also the
    O(1)-scan contract: the plan contains exactly one
    FlatMapGroupsInPandas (per-cell stage), never k of anything."""
    import numpy as np

    emb = spark.read.parquet(f"{SF_CORRECT}/embeddings.parquet").filter(
        F.col("vec_id") < 200
    )
    k = 8
    got = sorted(
        (r["sel_order"], r["vec_id"], r["d2_far"])
        for r in SIM.kcenter_sample_cells(emb, k=k, n_cells=8).collect()
    )
    assert got[0][1] == emb.agg(F.min("vec_id")).collect()[0][0]
    ids = [g[1] for g in got]
    assert len(set(ids)) == k
    d2s = [g[2] for g in got[1:]]
    assert all(a >= b for a, b in zip(d2s, d2s[1:]))
    # layout stability: different shuffle parallelism, identical rows
    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "3")
        again = sorted(
            (r["sel_order"], r["vec_id"], r["d2_far"])
            for r in SIM.kcenter_sample_cells(
                emb.repartition(5), k=k, n_cells=8
            ).collect()
        )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    assert again == got
    # quality: two-stage coverage radius within the coreset constant of
    # the exact greedy's radius on the same corpus
    V = {
        r["vec_id"]: np.asarray(r["embedding"], dtype=np.float64)
        for r in emb.collect()
    }

    def radius(center_ids):
        cs = [V[i] for i in center_ids]
        return max(
            min(float(((v - c) ** 2).sum()) for c in cs) for v in V.values()
        )

    exact_ids = [
        r["vec_id"] for r in SIM.kcenter_sample(emb, k=k).collect()
    ]
    assert radius(ids) <= 4.0 * radius(exact_ids) + 1e-9
    # O(1)-scan plan shape: one grouped-pandas stage, not k
    plan = SIM.kcenter_sample_cells.__wrapped__ if hasattr(
        SIM.kcenter_sample_cells, "__wrapped__"
    ) else None
    cents = SIM.ivf_centroids(emb, 8)
    assigned = SIM.ivf_assign(
        emb.select(F.col("vec_id"), F.col("embedding").alias("cv")),
        cents, 1, "vec_id", "cv",
    )
    explained = assigned._jdf.queryExecution().analyzed().toString()
    assert explained.count("FlatMapGroupsInPandas") <= 1


def test_nb_quality_classifier_discriminates_and_handles_unseen(spark):
    """The NB quality filter must DISCRIMINATE: held-out documents from
    the reference distribution classify high-quality, same-length
    token-reversed noise classifies low — and a document made entirely
    of NOVEL tokens scores exactly prior + n·unseen (the add-one unseen
    constant, not zero: absent evidence still carries the class-size
    asymmetry)."""
    from bensp_suite_spark.operators import text_analysis as TA

    docs = spark.read.parquet(f"{SF_CORRECT}/documents.parquet").select(
        "doc_id", "text"
    )
    words = F.split(
        F.regexp_replace(F.trim(F.lower(F.col("text"))), r"\s+", " "), " "
    )
    rev = F.array_join(F.transform(words, lambda w: F.reverse(w)), " ")
    pos = docs.filter("doc_id < 200")
    neg = docs.filter("doc_id >= 200 and doc_id < 400").select(
        "doc_id", rev.alias("text")
    )
    llr, unseen, prior = TA.nb_quality_train(pos, neg)
    held_hq = docs.filter("doc_id >= 400 and doc_id < 440")
    held_lq = held_hq.select(
        (F.col("doc_id") + 10_000).alias("doc_id"), rev.alias("text")
    )
    got = {
        r["doc_id"]: r
        for r in TA.nb_quality_score(
            held_hq.unionByName(held_lq), llr, unseen, prior
        ).collect()
    }
    hq = [r for d, r in got.items() if d < 10_000]
    lq = [r for d, r in got.items() if d >= 10_000]
    assert hq and lq
    frac_hq = sum(1 for r in hq if r["predicted_hq"]) / len(hq)
    frac_lq = sum(1 for r in lq if r["predicted_hq"]) / len(lq)
    assert frac_hq >= 0.9 and frac_lq <= 0.1
    # novel-token doc: score == prior + n·unseen exactly
    novel = spark.createDataFrame(
        [(1, "zzqx1 zzqx2 zzqx3")], "doc_id long, text string"
    )
    row = TA.nb_quality_score(novel, llr, unseen, prior).collect()[0]
    assert row["score_micro"] == prior + 3 * unseen
    assert row["n_tokens"] == 3
    # token-less docs must STILL get a verdict: prior-only score, never a
    # silently missing row (r9 ADVICE — a keep/drop consumer needs one
    # row per input doc)
    empties = spark.createDataFrame(
        [(7, ""), (8, "   \t \n "), (9, "real words here")],
        "doc_id long, text string",
    )
    got_e = {
        r["doc_id"]: r
        for r in TA.nb_quality_score(empties, llr, unseen, prior).collect()
    }
    assert set(got_e) == {7, 8, 9}
    for d in (7, 8):
        assert got_e[d]["n_tokens"] == 0
        assert got_e[d]["score_micro"] == prior
        assert got_e[d]["predicted_hq"] == (prior > 0)


def test_dsir_selects_target_like_docs_and_covers_every_input(spark):
    """DSIR importance resampling must DISCRIMINATE: over a pool of
    held-out in-distribution documents mixed with equal-length
    token-reversed noise, the top-k selection is dominated by the real
    docs (their hashed-n-gram profile matches the target corpus).
    Contracts: one row per pool doc (gram-less docs get a 0-weight row,
    never a silent drop), exactly k selected, weights are exact integer
    micro-units (order-free sums — any parallelism, same hash)."""
    from bensp_suite_spark.operators import text_analysis as TA

    docs = spark.read.parquet(f"{SF_CORRECT}/documents.parquet").select(
        "doc_id", "text"
    )
    words = F.split(
        F.regexp_replace(F.trim(F.lower(F.col("text"))), r"\s+", " "), " "
    )
    rev = F.array_join(F.transform(words, lambda w: F.reverse(w)), " ")
    target = docs.filter("doc_id < 200")
    held = docs.filter("doc_id >= 400 and doc_id < 440")
    pool = held.unionByName(
        held.select((F.col("doc_id") + 10_000).alias("doc_id"), rev.alias("text"))
    ).unionByName(
        spark.createDataFrame([(99_999, "   ")], "doc_id long, text string")
    )
    out = {r["doc_id"]: r for r in TA.dsir_select(target, pool, k=20).collect()}
    assert len(out) == 81  # 40 real + 40 reversed + 1 empty — all covered
    assert out[99_999]["n_grams"] == 0 and out[99_999]["logweight_micro"] == 0
    sel = [d for d, r in out.items() if r["selected"]]
    assert len(sel) == 20
    real = sum(1 for d in sel if d < 10_000)
    assert real >= 18  # noise twins must not crowd the selection
    # determinism across shuffle parallelism: integer micro sums hash
    # identically at a different partition count
    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "3")
        again = {
            r["doc_id"]: tuple(r)
            for r in TA.dsir_select(target, pool, k=20).collect()
        }
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    assert again == {d: tuple(r) for d, r in out.items()}
    # k < 1 must fail loudly (r10 ADVICE): limit(0) would NULL the agg-max
    # threshold and silently make 'selected' NULL everywhere
    import pytest as _pt

    with _pt.raises(ValueError, match="k >= 1"):
        TA.dsir_select(target, pool, k=0)


def test_ngram_lm_score_separates_gibberish(spark):
    """The LM quality signal must DISCRIMINATE: an in-domain document
    (words drawn from the corpus vocabulary) scores a higher mean bigram
    log-probability than a gibberish document of the same length — the
    property the CCNet-style filter relies on."""
    from bensp_suite_spark.operators import text_analysis as TA

    # train on a corpus WITH bigram structure (the sf fixture's documents
    # are uniform word soup — every bigram is ~equally likely there, so
    # no LM could separate; real text is the structured case). Training
    # docs repeat a strong phrase pattern with small variation.
    train_rows = [
        (i, "the quick brown fox jumps over the lazy dog again and again")
        for i in range(40)
    ] + [(50 + i, "the lazy dog sleeps under the quick brown fox") for i in range(20)]
    train = spark.createDataFrame(train_rows, "doc_id long, text string")
    bigrams, unigrams, vocab = TA.ngram_lm_train(train, train_max_id=1000)
    probe = spark.createDataFrame(
        [
            (9001, "the quick brown fox jumps over the lazy dog"),
            # same in-vocabulary WORDS, scrambled order — unseen bigrams:
            # the LM must flag broken word ORDER, not just OOV tokens
            (9002, "fox the dog brown lazy jumps quick the over dog"),
            # full OOV gibberish
            (9003, "zxqv kjw pplx mnbv qqrz ttyu iiop asdg hjkl zzyx"),
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: r["sum_logp_micro"] / r["n_bigrams"]
        for r in TA.ngram_lm_score(probe, bigrams, unigrams, vocab).collect()
    }
    assert got[9001] > got[9002] + 1_000_000  # ≥1 nat/bigram separation
    assert got[9001] > got[9003] + 1_000_000


def test_nsw_routed_recall_and_probe_scaling(spark):
    """Routed NSW: recall at n_probe=2 over 8 cells is already high on
    the gaussian fixture, and probing ALL cells recovers at least the
    plain (id-mod) sharding's recall — the candidate cut trades recall
    for fan-out exactly like IVF, recovered with n_probe."""
    from bensp_suite_spark.operators import graph_ann as GA

    emb = spark.read.parquet(f"{SF_CORRECT}/embeddings.parquet")
    qs = emb.filter(F.col("vec_id") < 12)
    brute = {
        (r.query_id, r.neighbor_id)
        for r in SIM.cosine_topk_bruteforce(qs, emb, k=5).collect()
    }

    def rec(n_probe):
        got = {
            (r.query_id, r.neighbor_id)
            for r in GA.nsw_routed_ann_topk(
                qs, emb, k=5, n_cells=8, n_probe=n_probe, m=8,
                ef_build=24, ef_search=16,
            ).collect()
        }
        return len(got & brute) / len(brute)

    r2, r8 = rec(2), rec(8)
    assert r8 >= r2
    assert r2 >= 0.6  # 2-of-8 cells on gaussians: the IVF-like floor
    assert r8 >= 0.9  # full probe ≈ the unrouted graph search


def test_routed_probe_cogroup_matches_waves_bit_for_bit(spark, tmp_path):
    """The fully-distributed cogroup probe (zero driver collect) must be
    BIT-IDENTICAL to the wave-staged probe on every routed form: inline
    build, prebuilt raw index, prebuilt PQ index, and a spilled build
    (duplicate-nomination collapse included). The zero-collect contract
    is asserted on the PLAN: the cogroup result's analyzed plan carries a
    FlatMapCoGroupsInPandas node (queries flow through the shuffle,
    never the driver) while the wave plan has none — plus the parity
    itself, which fails if either transport drops or reorders a
    nomination."""
    from bensp_suite_spark.operators import graph_ann as GA

    emb = spark.read.parquet(f"{SF_CORRECT}/embeddings.parquet")
    qs = emb.filter(F.col("vec_id") < 12)

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    # inline build
    kw = dict(k=5, n_cells=8, n_probe=2, m=8, ef_build=24, ef_search=16)
    assert rows(
        GA.nsw_routed_ann_topk(qs, emb, probe_mode="cogroup", **kw)
    ) == rows(GA.nsw_routed_ann_topk(qs, emb, **kw))
    # inline spilled build (distinct-collapse path)
    assert rows(
        GA.nsw_routed_ann_topk(
            qs, emb, spill_eps=0.25, probe_mode="cogroup", **kw
        )
    ) == rows(GA.nsw_routed_ann_topk(qs, emb, spill_eps=0.25, **kw))
    # prebuilt raw index
    praw = str(tmp_path / "raw")
    GA.save_nsw_routed_index(emb, praw, n_cells=8, m=8, ef_build=24)
    idx = GA.load_nsw_routed_index(spark, praw)
    assert rows(
        GA.nsw_routed_ann_topk(
            qs, emb, k=5, n_probe=2, ef_search=16, index=idx,
            probe_mode="cogroup",
        )
    ) == rows(
        GA.nsw_routed_ann_topk(qs, emb, k=5, n_probe=2, ef_search=16, index=idx)
    )
    # prebuilt PQ index + plan shape: the cogroup plan carries a
    # FlatMapCoGroupsInPandas node (the wave plan has none)
    ppq = str(tmp_path / "pq")
    GA.save_nsw_routed_pq_index(
        emb, ppq, n_cells=8, m=8, ef_build=24, n_subspaces=8, n_centroids=16
    )
    pq_idx = GA.load_nsw_routed_pq_index(spark, ppq)
    cg = GA.nsw_routed_pq_ann_topk(
        qs, emb, pq_idx, k=5, n_probe=2, ef_search=16, probe_mode="cogroup"
    )
    wv = GA.nsw_routed_pq_ann_topk(
        qs, emb, pq_idx, k=5, n_probe=2, ef_search=16
    )
    assert rows(cg) == rows(wv)
    cg_plan = cg._jdf.queryExecution().analyzed().toString()
    wv_plan = wv._jdf.queryExecution().analyzed().toString()
    assert "FlatMapCoGroupsInPandas" in cg_plan
    assert "FlatMapCoGroupsInPandas" not in wv_plan


def test_nsw_routed_spill_recovers_recall_and_stays_well_formed(spark, tmp_path):
    """SPANN boundary spill: closure assignment at the SAME probe budget
    recalls at least as much as the plain routed topology (boundary
    neighbors now live in the probed cells), eps=0 degenerates to the
    nearest-cell assignment exactly, duplicate nominations never occupy
    two ranks, and a prebuilt spilled index is bit-identical to the
    inline spilled build."""
    from bensp_suite_spark.operators import graph_ann as GA
    from bensp_suite_spark.operators.similarity import (
        ivf_assign,
        ivf_assign_spill,
        ivf_centroids,
    )

    emb = spark.read.parquet(f"{SF_CORRECT}/embeddings.parquet")
    qs = emb.filter(F.col("vec_id") < 12)
    kw = dict(k=5, n_cells=8, n_probe=2, m=8, ef_build=24, ef_search=16)

    # eps=0 == plain nearest-cell assignment, row for row
    cent = ivf_centroids(emb, 8)
    c_sel = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").cast("array<double>").alias("cv"),
    )
    plain = {
        (r["neighbor_id"], r["cell"])
        for r in ivf_assign(c_sel, cent, 1, "neighbor_id", "cv").collect()
    }
    eps0 = {
        (r["neighbor_id"], r["cell"])
        for r in ivf_assign_spill(c_sel, cent, 0.0, "neighbor_id", "cv").collect()
    }
    assert eps0 == plain
    # spilled membership is a superset containing the nearest cell
    spilled = ivf_assign_spill(c_sel, cent, 0.25, "neighbor_id", "cv")
    sp = {
        (r["neighbor_id"], r["cell"]) for r in spilled.collect()
    }
    assert plain <= sp and len(sp) > len(plain)

    brute = {
        (r.query_id, r.neighbor_id)
        for r in SIM.cosine_topk_bruteforce(qs, emb, k=5).collect()
    }

    def rec(res):
        got = {(r.query_id, r.neighbor_id) for r in res.collect()}
        return len(got & brute) / len(brute)

    base = rec(GA.nsw_routed_ann_topk(qs, emb, **kw))
    spill_res = GA.nsw_routed_ann_topk(qs, emb, spill_eps=0.25, **kw)
    rows = spill_res.collect()
    assert rec(spill_res) >= base
    # well-formed: every query has exactly k distinct ranks, no neighbor
    # appears twice for a query (the duplicate-nomination collapse)
    per_q: dict[int, list] = {}
    for r in rows:
        per_q.setdefault(r["query_id"], []).append(r)
    for q, rs in per_q.items():
        assert sorted(x["rank"] for x in rs) == list(range(1, len(rs) + 1))
        assert len({x["neighbor_id"] for x in rs}) == len(rs)

    # prebuilt spilled index: bit-identical probe
    path = str(tmp_path / "routed_spill")
    GA.save_nsw_routed_index(emb, path, n_cells=8, m=8, ef_build=24, spill_eps=0.25)
    idx = GA.load_nsw_routed_index(spark, path)
    assert idx[2]["spill_eps"] == 0.25
    pre = sorted(
        map(
            tuple,
            GA.nsw_routed_ann_topk(
                qs, emb, k=5, n_probe=2, ef_search=16, index=idx
            ).collect(),
        )
    )
    assert pre == sorted(map(tuple, rows))


def test_routed_index_upserts_match_full_rebuild(spark, tmp_path):
    """Routed-family upserts under the rebuild contract: with id-monotone
    ingest, (a) a spilled routed index upserted with the last 100 vectors
    is bit-identical to a full rebuild over the union (lowest-id
    centroids unchanged ⇒ same cells, same per-cell insertion order —
    spill assignment rides the index meta), and (b) a routed-PQ index
    upserted the same way (new ids above the codebook train-sample
    window, raw vectors recovered from the corpus table) equals its full
    rebuild including the re-encoded codes."""
    from bensp_suite_spark.operators import graph_ann as GA

    emb = spark.read.parquet(f"{SF_CORRECT}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    base = emb.filter("vec_id < 400")
    add = emb.filter("vec_id >= 400")

    def graph_rows(path, cols):
        return {
            (r["shard"], r["pos"]): tuple(
                tuple(r[c]) if isinstance(r[c], list) else r[c] for c in cols
            )
            for r in spark.read.parquet(path + "/graph").collect()
        }

    up, full = str(tmp_path / "r_up"), str(tmp_path / "r_full")
    GA.save_nsw_routed_index(base, up, n_cells=8, m=8, ef_build=24, spill_eps=0.25)
    GA.upsert_nsw_routed_index(add, up)
    GA.save_nsw_routed_index(emb, full, n_cells=8, m=8, ef_build=24, spill_eps=0.25)
    assert graph_rows(up, ["vec_id", "nbrs"]) == graph_rows(full, ["vec_id", "nbrs"])

    # routed-PQ: new ids sit ABOVE the 2048 train-sample window so the
    # rebuild trains the identical codebooks (ids < 2048 slice unchanged)
    shifted = emb.filter("vec_id >= 400").select(
        (F.col("vec_id") + 5000).alias("vec_id"), "embedding"
    )
    union = base.unionByName(shifted)
    pup, pfull = str(tmp_path / "pq_up"), str(tmp_path / "pq_full")
    GA.save_nsw_routed_pq_index(base, pup, n_cells=8, m=8, ef_build=24)
    GA.upsert_nsw_routed_pq_index(shifted, union, pup)
    GA.save_nsw_routed_pq_index(union, pfull, n_cells=8, m=8, ef_build=24)
    assert graph_rows(pup, ["vec_id", "codes", "nbrs"]) == graph_rows(
        pfull, ["vec_id", "codes", "nbrs"]
    )


def test_routed_pq_upsert_rejects_incomplete_corpus(spark, tmp_path):
    """A corpus table missing ANY indexed vector must fail LOUDLY: an
    inner-join recovery would silently drop the node, renumber positions,
    and leave surviving nbrs arrays pointing at stale positions — a
    corrupted graph with no error (r9 ADVICE). The guard is an anti join
    over the touched shards and names offending vec_ids."""
    import pytest

    from bensp_suite_spark.operators import graph_ann as GA

    emb = spark.read.parquet(f"{SF_CORRECT}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    base = emb.filter("vec_id < 400")
    add = emb.filter("vec_id >= 400 and vec_id < 450")
    path = str(tmp_path / "pq_guard")
    GA.save_nsw_routed_pq_index(base, path, n_cells=4, m=8, ef_build=24)
    # a WRONG corpus: drop half the indexed vectors
    bad_corpus = emb.filter("vec_id < 200 or vec_id >= 400")
    with pytest.raises(ValueError, match="corpus is missing raw vectors"):
        GA.upsert_nsw_routed_pq_index(add, bad_corpus, path)
    # the guard fired BEFORE any shard rewrite: index still equals base
    GA.upsert_nsw_routed_pq_index(add, emb, path)  # correct corpus works


def test_nsw_routed_pq_index_compresses_without_losing_the_graph(spark, tmp_path):
    """DiskANN composition: the PQ-compressed routed index stores the
    SAME full-precision adjacency as the raw routed index (the build
    never sees codes), each node's payload is S small ints instead of 64
    float64s, and the ADC-beamed probe keeps recall near the raw beams'
    on the gaussian fixture (compression costs candidate quality only —
    the exact re-rank runs from the raw table either way)."""
    from bensp_suite_spark.operators import graph_ann as GA

    emb = spark.read.parquet(f"{SF_CORRECT}/embeddings.parquet")
    qs = emb.filter(F.col("vec_id") < 12)
    raw_p = str(tmp_path / "raw")
    pq_p = str(tmp_path / "pq")
    GA.save_nsw_routed_index(emb, raw_p, n_cells=8, m=8, ef_build=24)
    GA.save_nsw_routed_pq_index(
        emb, pq_p, n_cells=8, m=8, ef_build=24, n_subspaces=8, n_centroids=256
    )
    raw_graph = spark.read.parquet(raw_p + "/graph")
    pq_graph = spark.read.parquet(pq_p + "/graph")
    raw_adj = {
        (r["shard"], r["pos"]): (r["vec_id"], list(r["nbrs"]))
        for r in raw_graph.collect()
    }
    pq_rows = pq_graph.collect()
    pq_adj = {
        (r["shard"], r["pos"]): (r["vec_id"], list(r["nbrs"])) for r in pq_rows
    }
    assert pq_adj == raw_adj  # full-precision build, identical adjacency
    # payload: S code ints per node, all within [0, C)
    assert all(
        len(r["codes"]) == 8 and all(0 <= c < 256 for c in r["codes"])
        for r in pq_rows
    )
    assert "cv" not in pq_graph.columns  # no raw vectors in the shards

    idx = GA.load_nsw_routed_pq_index(spark, pq_p)
    brute = {
        (r.query_id, r.neighbor_id)
        for r in SIM.cosine_topk_bruteforce(qs, emb, k=5).collect()
    }
    got = {
        (r.query_id, r.neighbor_id)
        for r in GA.nsw_routed_pq_ann_topk(
            qs, emb, idx, k=5, n_probe=2, ef_search=32
        ).collect()
    }
    raw_idx = GA.load_nsw_routed_index(spark, raw_p)
    raw_got = {
        (r.query_id, r.neighbor_id)
        for r in GA.nsw_routed_ann_topk(
            qs, emb, k=5, n_probe=2, ef_search=16, index=raw_idx
        ).collect()
    }
    pq_rec = len(got & brute) / len(brute)
    raw_rec = len(raw_got & brute) / len(brute)
    assert pq_rec >= raw_rec - 0.15  # ADC nomination loss is bounded
    assert pq_rec >= 0.5
