"""Document-level dedup operators for LLM-data pipelines: exact hash dedup,
MinHash + banded LSH, n-gram Jaccard set-similarity join, SimHash.

Generalizes the reference's chunk dedup (J1, encoder.c:666-703) from byte
chunks to documents. Everything is JVM-side (md5/conv/higher-order array
exprs) — no Python UDFs — and integer-exact, so each op has a bit-exact
DuckDB oracle (generated here, from the same constants).

Scale design (100 TB):
- shingling + minhash are per-row map work (codegen, no shuffle);
- LSH candidate generation is an equi-join on band keys — shuffle is
  proportional to candidate pairs, never O(n²);
- the exact-Jaccard join uses the inverted-index (explode → equi-join on
  shingle) pattern with counts, i.e. the standard set-similarity join;
- near-dup groups resolve with first-wins semantics, same as J1.

Since the driver's ``documents`` table has no near-duplicates, ops run on a
deterministic AUGMENTED corpus: each doc unioned with a jittered copy
(doc_id + 1_000_000, last 3 words dropped) — defined identically in Spark
and in the oracle SQL, so true positives exist by construction.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# --- MinHash parameters (shared by Spark exprs and generated oracle SQL) ---
MINHASH_K = 16  # hash functions
LSH_BANDS = 8  # bands of r = 2 rows → candidates at jaccard ≳ 0.3
MINHASH_P = (1 << 61) - 1  # Mersenne prime modulus
_rng = np.random.default_rng(20240813)
# a odd < 2^30, b < 2^30: with 32-bit shingle hashes, a*x+b < 2^62 fits i64
MINHASH_A = [int(a) | 1 for a in _rng.integers(1, 1 << 30, size=MINHASH_K)]
MINHASH_B = [int(b) for b in _rng.integers(0, 1 << 30, size=MINHASH_K)]

AUG_OFFSET = 1_000_000
SHINGLE_N = 3

SIMHASH_BITS = 48  # 48 of 63 safe BIGINT bits; 32 was far too collision-prone


def _wide_by(df: DataFrame, *cols: str) -> DataFrame:
    """Hash-repartition a fan-out stage onto every core before its
    groupBy/distinct. Inverted-index self-joins emit far more rows than the
    input tables, so suite-level shuffle sizing (∝ input bytes) leaves most
    cores idle exactly where the work is; the aggregation that follows
    reuses this hash distribution, so it is one exchange, not two."""
    n = df.sparkSession.sparkContext.defaultParallelism
    return df.repartition(n, *cols)


# ---------------------------------------------------------------------------
# corpus + shingles
# ---------------------------------------------------------------------------

def augmented_corpus(docs: DataFrame) -> DataFrame:
    """documents ∪ jittered copies (planted near-duplicates)."""
    words = F.split(F.trim(F.col("text")), r"\s+")
    keep = F.greatest(F.size(words) - 3, F.lit(1))
    jitter = docs.select(
        (F.col("doc_id") + AUG_OFFSET).alias("doc_id"),
        F.array_join(F.slice(words, 1, keep), " ").alias("text"),
    )
    return docs.select("doc_id", "text").unionByName(jitter)


AUGMENTED_CORPUS_SQL = f"""
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + {AUG_OFFSET} AS doc_id,
         array_to_string(words[1:GREATEST(len(words) - 3, 1)], ' ') AS text
  FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS words FROM documents)
"""


def shingles(corpus: DataFrame, n: int = SHINGLE_N) -> DataFrame:
    """(doc_id, shingle) distinct word n-grams — the inverted-index input.

    The split is projected ONCE (`ws`) before the gram transform references
    it; inlining `split(...)` into the lambda re-tokenizes every document
    3× per row (~5× slower end-to-end, measured at sf0.1). No trailing
    ``.distinct()``: `array_distinct` already dedups within a doc and
    `doc_id` is unique in the corpus, so (doc_id, shingle) is distinct by
    construction — a global distinct here is a pure extra shuffle of the
    largest intermediate in the pipeline."""
    t = F.trim(F.col("text"))
    w = corpus.select("doc_id", t.alias("t"), F.split(t, r"\s+").alias("ws"))
    grams = F.when(
        F.size(F.col("ws")) >= n,
        F.expr(
            f"transform(sequence(1, size(ws) - {n - 1}), "
            f"i -> concat_ws(' ', slice(ws, i, {n})))"
        ),
    ).otherwise(F.array(F.col("t")))
    return w.select("doc_id", F.explode(F.array_distinct(grams)).alias("shingle"))


def _shingles_sql(src: str) -> str:
    return f"""
    SELECT DISTINCT doc_id, shingle
    FROM (
      SELECT doc_id,
             UNNEST(CASE WHEN len(words) >= {SHINGLE_N}
               THEN list_distinct(list_transform(range(1, len(words) - {SHINGLE_N - 2}),
                    i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2]))
               ELSE [trim(text)] END) AS shingle
      FROM (SELECT doc_id, text, regexp_split_to_array(trim(text), '\\s+') AS words
            FROM ({src}))
    )
    """


# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------

def exact_dedup(docs: DataFrame, normalized: bool = True) -> DataFrame:
    """First-wins exact dedup on an md5 content hash (J1 semantics).
    normalized=True collapses whitespace + lowercases first."""
    t = F.col("text")
    if normalized:
        t = F.lower(F.regexp_replace(F.trim(t), r"\s+", " "))
    hashed = docs.select("doc_id", F.md5(t).alias("content_hash"))
    w = Window.partitionBy("content_hash").orderBy("doc_id")
    return (
        hashed.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", "content_hash")
    )


EXACT_DEDUP_SQL = """
    SELECT doc_id, content_hash FROM (
      SELECT doc_id, md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))) AS content_hash,
             ROW_NUMBER() OVER (PARTITION BY md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g')))
                                ORDER BY doc_id) AS rn
      FROM documents
    ) WHERE rn = 1
"""


# ---------------------------------------------------------------------------
# MinHash + banded LSH
# ---------------------------------------------------------------------------

def _shingle_hash32() -> F.Column:
    # 32-bit integer from md5 hex — portable across engines
    return F.conv(F.substring(F.md5(F.col("shingle")), 1, 8), 16, 10).cast("long")


def minhash_signatures(corpus: DataFrame) -> DataFrame:
    """One row per doc: m0..m{K-1} minhash values (integer-exact)."""
    sh = shingles(corpus).withColumn("x", _shingle_hash32())
    aggs = [
        F.min((F.lit(MINHASH_A[i]) * F.col("x") + F.lit(MINHASH_B[i])) % F.lit(MINHASH_P)).alias(
            f"m{i}"
        )
        for i in range(MINHASH_K)
    ]
    return sh.groupBy("doc_id").agg(*aggs)


def _minhash_sql(src: str) -> str:
    x = "CAST(('0x' || substr(md5(shingle), 1, 8)) AS BIGINT)"
    cols = ", ".join(
        f"MIN(({MINHASH_A[i]} * {x} + {MINHASH_B[i]}) % {MINHASH_P}) AS m{i}"
        for i in range(MINHASH_K)
    )
    return f"SELECT doc_id, {cols} FROM ({_shingles_sql(src)}) GROUP BY doc_id"


def minhash_lsh_pairs(corpus: DataFrame, threshold: float = 0.5) -> DataFrame:
    """Banded-LSH candidate pairs with minhash-estimated Jaccard.

    Bands of 2 minhashes hash-join docs into candidate pairs (the J5
    bucket-probe shape); est_jaccard = matching minhashes / K. Only pairs
    ≥ threshold survive. All integer math → exact oracle.
    """
    # sig feeds four plan branches (both band join sides + both signature
    # re-joins); persist AND materialize, else the branches race to fill the
    # cache and the shingle+minhash aggregation still runs 4×.
    from ..session import pooled_persist

    sig = pooled_persist(minhash_signatures(corpus), "dedup_text.minhash.sig")
    bands = sig.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        # long key (hash of the band's minhash pair), not a
                        # "m0:m1" string — fixed-width join keys shuffle and
                        # compare faster; collisions are as unlikely as in
                        # the shingle join and only affect candidate recall
                        F.xxhash64(F.col(f"m{2 * b}"), F.col(f"m{2 * b + 1}")).alias("key"),
                    )
                    for b in range(LSH_BANDS)
                ]
            )
        ).alias("bk"),
    ).select("doc_id", "bk.band", "bk.key")
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        _wide_by(
            a.join(b, on=["band", "key"])
            .filter(F.col("a.doc_id") < F.col("b.doc_id"))
            .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")),
            "doc_a",
            "doc_b",
        )
        .distinct()
    )
    sa = sig.select(F.col("doc_id").alias("doc_a"), *[F.col(f"m{i}").alias(f"a{i}") for i in range(MINHASH_K)])
    sb = sig.select(F.col("doc_id").alias("doc_b"), *[F.col(f"m{i}").alias(f"b{i}") for i in range(MINHASH_K)])
    est = sum(
        F.when(F.col(f"a{i}") == F.col(f"b{i}"), 1).otherwise(0) for i in range(MINHASH_K)
    )
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.round(est.cast("double") / MINHASH_K, 6).alias("est_jaccard"),
        )
        .filter(F.col("est_jaccard") >= threshold)
    )


def minhash_lsh_pairs_oracle_sql(threshold: float = 0.5) -> str:
    bands_sel = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, CAST(m{2*b} AS VARCHAR) || ':' || CAST(m{2*b+1} AS VARCHAR) AS key FROM sig"
        for b in range(LSH_BANDS)
    )
    est = " + ".join(f"CASE WHEN sa.m{i} = sb.m{i} THEN 1 ELSE 0 END" for i in range(MINHASH_K))
    return f"""
    WITH corpus AS ({AUGMENTED_CORPUS_SQL}),
    sig AS ({_minhash_sql('SELECT * FROM corpus')}),
    bands AS ({bands_sel}),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b ON a.band = b.band AND a.key = b.key
      WHERE a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b,
           ROUND(CAST(({est}) AS DOUBLE) / {MINHASH_K}, 6) AS est_jaccard
    FROM cand JOIN sig sa ON sa.doc_id = cand.doc_a
              JOIN sig sb ON sb.doc_id = cand.doc_b
    WHERE ROUND(CAST(({est}) AS DOUBLE) / {MINHASH_K}, 6) >= {threshold}
    """


# ---------------------------------------------------------------------------
# exact n-gram Jaccard set-similarity join
# ---------------------------------------------------------------------------

def ngram_jaccard_pairs(
    corpus: DataFrame, threshold: float = 0.5, max_shingle_doc_freq: int | None = None,
    prefix_filter: bool = True,
) -> DataFrame:
    """Exact Jaccard over distinct word 3-grams via the inverted-index join:
    explode shingles → self-equi-join on shingle → per-pair intersection
    count → |A∪B| = |A| + |B| − |A∩B|. Shuffle ∝ shared-shingle pairs.

    ``max_shingle_doc_freq`` is the 100 TB skew guard: a stop-shingle
    appearing in k docs contributes k² join rows, so one hot shingle can
    dominate the whole shuffle. Dropping shingles with doc-frequency above
    the cap bounds per-key fan-out (the standard prefix/frequency filter in
    set-similarity joins). Default None = exact semantics (required for the
    DuckDB oracle); set it for web-scale corpora where a slightly lossy
    candidate set is the right trade.
    """
    # sh feeds several plan branches; persist AND materialize, or the
    # explode+distinct runs once per branch.
    # The join/group keys are xxhash64(shingle), not the 3-word string:
    # sorting + hashing fixed-width longs is ~30% faster end-to-end than
    # string keys at sf0.1, and a 64-bit collision between two of the
    # corpus's distinct shingles (p ≈ d²/2⁶⁵) is negligible even at 10¹⁰
    # distinct shingles. Semantics are unchanged absent a collision.
    from ..session import pooled_persist

    sh = pooled_persist(
        shingles(corpus).select("doc_id", F.xxhash64("shingle").alias("sid")),
        "dedup_text.jaccard.sh",
    )
    if max_shingle_doc_freq is not None:
        freq = sh.groupBy("sid").agg(F.count(F.lit(1)).alias("df"))
        keep = freq.filter(F.col("df") <= max_shingle_doc_freq).select("sid")
        sh = sh.join(keep, on="sid", how="left_semi")
    # --- Prefix-filtered candidate generation (the PPJoin family's prefix
    # principle): order each doc's shingles by ascending global doc-
    # frequency (rarest first, sid tiebreak) and index only the first
    # n − ⌈t·n⌉ + 1 of them. Any pair with J ≥ t must share ≥ ⌈t·max(na,nb)⌉
    # shingles, so it cannot avoid both prefixes — perfect recall, exact
    # semantics, while hot (high-df) shingles — whose fan-out in the
    # inverted-index join is quadratic in df — are exactly the ones pushed
    # OUT of the prefix. This is what bounds the candidate shuffle at
    # 100 TB; `max_shingle_doc_freq` above remains the (lossy) hard cap for
    # adversarial corpora.
    #
    # Everything per-doc — the sorted verification array, the size, and the
    # rarity-ordered prefix — comes out of ONE groupBy(doc_id) aggregation
    # (a window-rank formulation of the prefix costs an extra full-corpus
    # sort exchange for the same result).
    dfreq = sh.groupBy("sid").agg(F.count(F.lit(1)).alias("df"))
    by_rarity = F.expr("transform(array_sort(collect_list(struct(df, sid))), x -> x.sid)")
    doc_sets = pooled_persist(
        _wide_by(sh.join(dfreq, on="sid"), "doc_id")
        .groupBy("doc_id")
        .agg(by_rarity.alias("rare_first"), F.count(F.lit(1)).alias("n"))
        .select(
            "doc_id",
            # verification uses array_intersect (hash-based, order-blind):
            # the rarity order IS the verification array, no re-sort
            F.col("rare_first").alias("sids"),
            "n",
            F.slice(
                "rare_first", 1, (F.col("n") - F.ceil(F.lit(threshold) * F.col("n")) + 1).cast("int")
            ).alias("prefix"),
        ),
        "dedup_text.jaccard.docsets",
    )
    # prefix_filter=False indexes EVERY shingle (the naive inverted-index
    # join) — result-identical, but hot shingles re-enter the candidate
    # join with their quadratic fan-out; kept as the bench anti-baseline
    # that quantifies what the prefix buys on a skewed corpus.
    prefix = doc_sets.select(
        "doc_id", F.explode("prefix" if prefix_filter else "sids").alias("sid")
    )
    a, b = prefix.alias("a"), prefix.alias("b")
    cand = (
        _wide_by(
            a.join(b, on="sid")
            .filter(F.col("a.doc_id") < F.col("b.doc_id"))
            .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")),
            "doc_a",
            "doc_b",
        )
        .distinct()
    )
    # --- Exact verification: attach both (small) sorted sid arrays and
    # count the intersection. One row per surviving candidate pair; the
    # arrays join is a plain equi-join on doc_id (broadcast when the doc-set
    # table is small, shuffle-hash at scale).
    sa = doc_sets.select(
        F.col("doc_id").alias("doc_a"), F.col("sids").alias("sa"), F.col("n").alias("na")
    )
    sb = doc_sets.select(
        F.col("doc_id").alias("doc_b"), F.col("sids").alias("sb"), F.col("n").alias("nb")
    )
    shared = F.size(F.array_intersect(F.col("sa"), F.col("sb")))
    jac = F.round(
        shared.cast("double") / (F.col("na") + F.col("nb") - shared), 6
    )
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select("doc_a", "doc_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def ngram_jaccard_oracle_sql(threshold: float = 0.5) -> str:
    return f"""
    WITH corpus AS ({AUGMENTED_CORPUS_SQL}),
    sh AS ({_shingles_sql('SELECT * FROM corpus')}),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    shared AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS shared
      FROM sh a JOIN sh b ON a.shingle = b.shingle
      WHERE a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           ROUND(CAST(shared AS DOUBLE) / (na.n + nb.n - shared), 6) AS jaccard
    FROM shared
    JOIN sizes na ON na.doc_id = doc_a
    JOIN sizes nb ON nb.doc_id = doc_b
    WHERE ROUND(CAST(shared AS DOUBLE) / (na.n + nb.n - shared), 6) >= {threshold}
    """


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

def simhash(corpus: DataFrame, bits: int = SIMHASH_BITS) -> DataFrame:
    """Per-doc SimHash fingerprint: token 32-bit hashes vote ±1 per bit
    (term-frequency weighted — every token instance votes); bit set iff the
    vote is positive. Conditional-aggregate formulation, fully JVM-side."""
    words = F.split(F.trim(F.col("text")), r"\s+")
    tok = corpus.select("doc_id", F.explode(words).alias("token"))
    h = F.conv(F.substring(F.md5(F.col("token")), 1, 8), 16, 10).cast("long")
    tok = tok.select("doc_id", h.alias("h"))
    # branch-free aggregate: the ±1 vote sum is 2*(set-bit count) − n_tokens,
    # so bit i is set iff 2*SUM((h>>i)&1) > COUNT(*). 48 SUM(CASE WHEN ...)
    # aggregates generate a much larger codegen method whose JIT compilation
    # alone cost seconds on a cold session; plain bit-extract sums are stable.
    #
    # Two-level: term frequencies first — repartitioning by doc_id up front
    # lets BOTH groupBys run exchange-free on that distribution (doc_id ⊆
    # each key set), so the 48-sum pass reads distinct (doc, h) terms (tf-
    # weighted, identical votes) instead of every token instance.
    tf = (
        tok.repartition(tok.sparkSession.sparkContext.defaultParallelism, "doc_id")
        .groupBy("doc_id", "h")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    # The 48 bit-sum aggregates and the 48-way CASE reassembly are built as
    # SQL strings (one Catalyst parse per expression) instead of chained
    # Column ops: each F.* call is a py4j round-trip, and at 48 bits the
    # chained form costs ~2-4k round-trips (~4 s of DRIVER wall per call on
    # a slow host — measured r11: simhash construction was 16 s of the
    # day-3 loop's 24 s body; this form is 4.3× faster to build). The
    # parsed expressions compute the same exact-integer arithmetic (the
    # trees differ only in the chained form's leading `0 +` and int-vs-
    # long literal widths — no overflow on either path), so every
    # fingerprint is bit-identical — asserted value-for-value against the
    # chained construction in tests, and by every oracle-pinned query
    # downstream.
    sums = [
        F.expr(f"sum((shiftright(h, {i}) & 1) * tf) AS s{i}")
        for i in range(bits)
    ]
    agg = tf.groupBy("doc_id").agg(F.expr("sum(tf) AS cnt"), *sums)
    sim_sql = " + ".join(
        f"(CASE WHEN 2 * s{i} > cnt THEN {1 << i} ELSE 0 END)"
        for i in range(bits)
    )
    return agg.select(
        "doc_id", F.expr(f"CAST({sim_sql} AS BIGINT) AS simhash")
    )


def simhash_oracle_sql(bits: int = SIMHASH_BITS) -> str:
    h = "CAST(('0x' || substr(md5(token), 1, 8)) AS BIGINT)"
    votes = ", ".join(
        f"SUM(CASE WHEN (h >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS v{i}" for i in range(bits)
    )
    sim = " + ".join(f"CASE WHEN v{i} > 0 THEN CAST({1 << i} AS BIGINT) ELSE 0 END" for i in range(bits))
    return f"""
    WITH corpus AS ({AUGMENTED_CORPUS_SQL}),
    tok AS (
      SELECT doc_id, {h} AS h
      FROM (SELECT doc_id, UNNEST(regexp_split_to_array(trim(text), '\\s+')) AS token FROM corpus)
    ),
    agg AS (SELECT doc_id, {votes} FROM tok GROUP BY doc_id)
    SELECT doc_id, {sim} AS simhash FROM agg
    """


def _simhash_bands(max_hamming: int) -> list[tuple[int, int]]:
    """(shift, width) band layout: ``max_hamming + 1`` near-equal bands over
    SIMHASH_BITS. Pigeonhole: with ≤ h flipped bits and h+1 bands, at least
    one band is untouched, so banded equi-join has perfect recall at ≤ h.
    Wider bands (fewer, when h is small) mean exponentially more bucket
    values — 3×16-bit bands give 65536 buckets vs a byte-band's 256, which
    is what keeps per-bucket join fan-out ~1 even at 10⁸ docs."""
    nb = max_hamming + 1
    base, extra = divmod(SIMHASH_BITS, nb)
    out, shift = [], 0
    for i in range(nb):
        w = base + (1 if i < extra else 0)
        out.append((shift, w))
        shift += w
    return out


def simhash_near_dup_pairs(corpus: DataFrame, max_hamming: int = 2) -> DataFrame:
    """Near-dup pairs by SimHash: band the fingerprint into ``max_hamming+1``
    blocks (pigeonhole candidate generation — an exact-match join per band,
    never O(n²)), then filter on true Hamming distance. The signature table
    is persisted so the banded self-join computes the 48 vote-sums once."""
    from ..session import pooled_persist

    sig = pooled_persist(simhash(corpus), "dedup_text.simhash.sig")
    bands = sig.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftright(F.col("simhash"), sh).bitwiseAND(F.lit((1 << w) - 1)).alias("key"),
                    )
                    for b, (sh, w) in enumerate(_simhash_bands(max_hamming))
                ]
            )
        ).alias("bk"),
    ).select("doc_id", "simhash", "bk.band", "bk.key")
    a, b = bands.alias("a"), bands.alias("b")
    ham = F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
    return (
        a.join(b, on=["band", "key"])
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            ham.alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def simhash_near_dup_oracle_sql(max_hamming: int = 2) -> str:
    bands = " UNION ALL ".join(
        f"SELECT doc_id, simhash, {b} AS band, (simhash >> {sh}) & {(1 << w) - 1} AS key FROM sig"
        for b, (sh, w) in enumerate(_simhash_bands(max_hamming))
    )
    return f"""
    WITH sig AS ({simhash_oracle_sql()}),
    bands AS ({bands})
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
    FROM bands a JOIN bands b ON a.band = b.band AND a.key = b.key
    WHERE a.doc_id < b.doc_id AND bit_count(xor(a.simhash, b.simhash)) <= {max_hamming}
    """


# ---------------------------------------------------------------------------
# Near-dup resolution: pairs → transitive clusters → one kept doc per cluster
# ---------------------------------------------------------------------------

def near_dup_components(pairs: DataFrame, a: str = "doc_a", b: str = "doc_b") -> DataFrame:
    """Connected components over a candidate-pair graph by hash-to-min
    label propagation: every node repeatedly takes the min label among
    itself and its neighbors until fixpoint. Converges in O(graph diameter)
    rounds — near-dup clusters are shallow (dups of a common source), so in
    practice 2-3 rounds; each round is one join + one aggregation, the
    standard large-scale CC formulation (no driver-side graph).

    Returns (node, rep) for every node that appears in ``pairs``; rep is
    the component's minimum doc_id (first-wins, J1 semantics lifted from
    exact-digest groups to transitive near-dup clusters)."""
    e = pairs.select(F.col(a).alias("x"), F.col(b).alias("y"))
    # localCheckpoint (NOT just persist): every round's DataFrame otherwise
    # nests the previous round's full logical plan — and the pointer-jump
    # self-join doubles the references — so Catalyst analysis grows
    # exponentially with rounds (measured: round-1 actions on 10k cached
    # rows took 20+ s of pure planning). Truncating lineage each round is
    # the standard iterative-algorithm pattern; swap for checkpoint(dir) on
    # a real cluster if executor loss during the loop must be survivable.
    #
    # The edge table is made symmetric and de-duplicated (distinct())
    # before the checkpoint; it is NOT repartitioned on the join key y.
    # At bench scale the label side broadcasts, so no edges exchange
    # exists; where labels ∝ nodes force a shuffle join, every round
    # re-shuffles the edges side of the label join.
    #
    # `new`'s checkpoint is LAZY (eager=False): the round's checksum
    # action materializes it and computes the fixpoint sum in ONE job
    # instead of two (r12: the loop's cost at toy scale was driver fixed
    # cost × blocking-action count). `stepped` keeps its EAGER
    # checkpoint: it feeds both sides of the pointer-jump self-join, and
    # an A/B showed exchange reuse does NOT dedupe the two un-materialized
    # references (the round's join+agg ran twice and the loop got slower).
    edges = (
        e.unionByName(e.select(F.col("y").alias("x"), F.col("x").alias("y")))
        .distinct()
        .localCheckpoint(eager=False)
    )
    labels = (
        edges.select(F.col("x").alias("node"))
        .distinct()
        .withColumn("rep", F.col("node"))
        .localCheckpoint(eager=False)
    )

    def _checksum(df: DataFrame):
        # labels are monotone non-increasing under min-propagation, so the
        # exact sum is a fixpoint detector: equal sum ⇔ no label changed —
        # one cheap scan instead of a join-and-count convergence check.
        return df.agg(F.sum(F.col("rep").cast("decimal(38,0)"))).collect()[0][0]

    prev = _checksum(labels)
    while True:
        nbr = edges.join(
            labels.select(F.col("node").alias("y"), F.col("rep").alias("nrep")), on="y"
        ).select(F.col("x").alias("node"), F.col("nrep").alias("rep"))
        stepped = (
            labels.unionByName(nbr).groupBy("node").agg(F.min("rep").alias("rep"))
        ).localCheckpoint(eager=True)
        # pointer jump: also adopt the current label OF the label — min
        # labels propagate exponentially, O(log diameter) rounds instead of
        # O(diameter) (a rep value is always itself a node id)
        new = (
            stepped.join(
                stepped.select(
                    F.col("node").alias("rep"), F.col("rep").alias("rep2")
                ),
                on="rep",
                how="left",
            )
            .select("node", F.least(F.col("rep"), F.col("rep2")).alias("rep"))
            .localCheckpoint(eager=False)
        )
        cur = _checksum(new)
        labels = new
        if cur == prev:
            break
        prev = cur
    return labels


def near_dup_resolution(corpus: DataFrame, pairs: DataFrame) -> DataFrame:
    """Full-corpus dedup decision table: (doc_id, rep_id, is_kept). Docs in
    a near-dup cluster resolve to the cluster's min doc_id; singletons keep
    themselves. This is the deletions list a training-data pipeline feeds
    downstream (keep WHERE is_kept)."""
    comp = near_dup_components(pairs)
    return (
        corpus.select("doc_id")
        .join(comp.withColumnRenamed("node", "doc_id"), on="doc_id", how="left")
        .select(
            "doc_id",
            F.coalesce(F.col("rep"), F.col("doc_id")).alias("rep_id"),
            (F.coalesce(F.col("rep"), F.col("doc_id")) == F.col("doc_id")).alias("is_kept"),
        )
    )


def near_dup_resolution_oracle_sql(threshold: float = 0.5) -> str:
    """Recursive-CTE oracle: min label reachable from each node over the
    (bidirectional) minhash-LSH pair graph."""
    return f"""
    WITH RECURSIVE
    pairs AS ({minhash_lsh_pairs_oracle_sql(threshold)}),
    edges AS (
      SELECT doc_a AS x, doc_b AS y FROM pairs
      UNION
      SELECT doc_b AS x, doc_a AS y FROM pairs
    ),
    comp(node, rep) AS (
      SELECT x, x FROM edges
      UNION
      SELECT e.x, c.rep FROM comp c JOIN edges e ON e.y = c.node
    ),
    resolved AS (SELECT node, MIN(rep) AS rep FROM comp GROUP BY node),
    corpus AS ({AUGMENTED_CORPUS_SQL})
    SELECT c.doc_id,
           COALESCE(r.rep, c.doc_id) AS rep_id,
           COALESCE(r.rep, c.doc_id) = c.doc_id AS is_kept
    FROM corpus c LEFT JOIN resolved r ON r.node = c.doc_id
    """


# ---------------------------------------------------------------------------
# Passage-level dedup + boilerplate detection (C4/RefinedWeb-style)
# ---------------------------------------------------------------------------

PASSAGE_WORDS = 20


def passages(corpus: DataFrame, words_per_passage: int = PASSAGE_WORDS) -> DataFrame:
    """(doc_id, passage_idx, passage_md5): fixed-width word windows per
    document — the unit of sub-document dedup (C4 dedups three-sentence
    spans; with no sentence structure in the synthetic corpus the span is
    a fixed word count). The explode is narrow (no shuffle); passages are
    value-addressed by md5 so downstream ops never move text."""
    P = words_per_passage
    t = F.regexp_replace(F.trim(F.col("text")), r"\s+", " ")
    w = corpus.select("doc_id", F.split(t, " ").alias("ws"))
    n_pass = F.greatest(F.ceil(F.size("ws") / F.lit(float(P))).cast("int"), F.lit(1))
    idx = F.explode(F.sequence(F.lit(0), n_pass - 1)).alias("passage_idx")
    exploded = w.select("doc_id", "ws", idx)
    text = F.array_join(
        F.slice(F.col("ws"), F.col("passage_idx") * P + 1, P), " "
    )
    return exploded.select(
        "doc_id", "passage_idx", F.md5(text).alias("passage_md5")
    )


def _passages_sql(src: str, words_per_passage: int = PASSAGE_WORDS) -> str:
    P = words_per_passage
    return f"""
    SELECT doc_id, CAST(i AS INTEGER) AS passage_idx,
           md5(array_to_string(ws[CAST(i * {P} + 1 AS BIGINT):CAST(i * {P} + {P} AS BIGINT)], ' ')) AS passage_md5
    FROM (SELECT doc_id,
                 string_split(regexp_replace(trim(text), '\\s+', ' ', 'g'), ' ') AS ws
          FROM ({src})),
         UNNEST(range(0, GREATEST(CAST(ceil(len(ws) / {P}.0) AS BIGINT), 1))) AS t(i)
    """


def passage_dedup(
    corpus: DataFrame, words_per_passage: int = PASSAGE_WORDS
) -> DataFrame:
    """Sub-document dedup: one surviving copy per distinct passage across
    the whole corpus, first-wins in (doc_id, passage_idx) order — an exact
    duplicate document contributes ZERO passages beyond its original.
    Returns (doc_id, passage_idx, passage_md5) survivors.

    Scale shape: one hash exchange on the passage digest (same J1 skeleton
    as chunk-level CDC dedup — the digest is uniform, no salting), window
    rank, filter. At 100 TB the exchange carries 16-byte digests plus
    position ints, never text."""
    p = passages(corpus, words_per_passage)
    w = Window.partitionBy("passage_md5").orderBy("doc_id", "passage_idx")
    return (
        p.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", "passage_idx", "passage_md5")
    )


def passage_dedup_oracle_sql(words_per_passage: int = PASSAGE_WORDS) -> str:
    return f"""
    WITH corpus AS ({AUGMENTED_CORPUS_SQL}),
    p AS ({_passages_sql("SELECT * FROM corpus", words_per_passage)})
    SELECT doc_id, passage_idx, passage_md5 FROM (
      SELECT doc_id, passage_idx, passage_md5,
             ROW_NUMBER() OVER (PARTITION BY passage_md5
                                ORDER BY doc_id, passage_idx) AS rn
      FROM p) WHERE rn = 1
    """


def boilerplate_passages(
    corpus: DataFrame, min_docs: int = 3, words_per_passage: int = PASSAGE_WORDS
) -> DataFrame:
    """Boilerplate detection: passages occurring in ≥ ``min_docs`` DISTINCT
    documents (headers, footers, licence blocks in a real crawl). Returns
    (passage_md5, doc_freq) — join it back anti-style to strip boilerplate
    from every document. One digest-keyed aggregate; the distinct-doc
    count collapses map-side per digest."""
    p = passages(corpus, words_per_passage)
    return (
        p.groupBy("passage_md5")
        .agg(F.countDistinct("doc_id").cast("bigint").alias("doc_freq"))
        .filter(F.col("doc_freq") >= min_docs)
    )


def boilerplate_oracle_sql(
    min_docs: int = 3, words_per_passage: int = PASSAGE_WORDS
) -> str:
    return f"""
    WITH corpus AS ({AUGMENTED_CORPUS_SQL}),
    p AS ({_passages_sql("SELECT * FROM corpus", words_per_passage)})
    SELECT passage_md5, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS doc_freq
    FROM p GROUP BY passage_md5
    HAVING COUNT(DISTINCT doc_id) >= {min_docs}
    """


def strip_boilerplate(
    corpus: DataFrame, min_docs: int = 3, words_per_passage: int = PASSAGE_WORDS
) -> DataFrame:
    """The REWRITE the boilerplate detector feeds (CCNet/C4-style
    sub-document cleanup): remove every passage that occurs in ≥
    ``min_docs`` distinct documents (headers, footers, licence blocks)
    and reassemble each document from its surviving passages in order.
    Returns (doc_id, text, n_passages, n_stripped) for EVERY input doc —
    a fully-boilerplate doc comes back with text '' and n_stripped ==
    n_passages (the curation filter drops it downstream).

    Scale shape: passages explode narrowly (value-addressed md5s); the
    boilerplate table is tiny by construction (passages shared by ≥
    min_docs docs) so the anti-join broadcasts; the only text-carrying
    shuffle is the unavoidable one — regrouping surviving passages by
    doc to rebuild the string. Deterministic reassembly: array_sort on
    (passage_idx, ptext) structs, then join — the same string DuckDB's
    ordered string_agg produces."""
    P = words_per_passage
    bp = boilerplate_passages(corpus, min_docs, P).select("passage_md5")
    t = F.regexp_replace(F.trim(F.col("text")), r"\s+", " ")
    w = corpus.select("doc_id", F.split(t, " ").alias("ws"))
    n_pass = F.greatest(F.ceil(F.size("ws") / F.lit(float(P))).cast("int"), F.lit(1))
    parts = w.select(
        "doc_id",
        F.size("ws").alias("__nw"),
        F.explode(F.sequence(F.lit(0), n_pass - 1)).alias("passage_idx"),
        F.col("ws"),
    ).select(
        "doc_id",
        "passage_idx",
        F.array_join(
            F.slice(F.col("ws"), F.col("passage_idx") * P + 1, P), " "
        ).alias("ptext"),
    )
    kept = parts.join(
        F.broadcast(bp),
        F.md5(F.col("ptext")) == F.col("passage_md5"),
        "left_anti",
    )
    rebuilt = kept.groupBy("doc_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("passage_idx", "ptext"))),
                lambda s: s["ptext"],
            ),
            " ",
        ).alias("text"),
        F.count(F.lit(1)).cast("long").alias("__n_kept"),
    )
    totals = parts.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_passages")
    )
    return (
        totals.join(rebuilt, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("text", F.lit("")).alias("text"),
            "n_passages",
            (F.col("n_passages") - F.coalesce("__n_kept", F.lit(0)))
            .cast("long")
            .alias("n_stripped"),
        )
    )


def strip_boilerplate_oracle_sql(
    min_docs: int = 3, words_per_passage: int = PASSAGE_WORDS
) -> str:
    P = words_per_passage
    return f"""
    WITH corpus AS ({AUGMENTED_CORPUS_SQL}),
    w AS (SELECT doc_id,
                 string_split(regexp_replace(trim(text), '\\s+', ' ', 'g'), ' ') AS ws
          FROM corpus),
    parts AS (
      SELECT doc_id, CAST(i AS INTEGER) AS passage_idx,
             array_to_string(ws[CAST(i * {P} + 1 AS BIGINT):CAST(i * {P} + {P} AS BIGINT)], ' ') AS ptext
      FROM w, UNNEST(range(0, GREATEST(CAST(ceil(len(ws) / {P}.0) AS BIGINT), 1))) AS t(i)
    ),
    bp AS (SELECT md5(ptext) AS passage_md5 FROM parts
           GROUP BY md5(ptext) HAVING COUNT(DISTINCT doc_id) >= {min_docs}),
    kept AS (SELECT * FROM parts WHERE md5(ptext) NOT IN (SELECT passage_md5 FROM bp)),
    rebuilt AS (
      SELECT doc_id, string_agg(ptext, ' ' ORDER BY passage_idx) AS text,
             CAST(COUNT(*) AS BIGINT) AS n_kept
      FROM kept GROUP BY doc_id
    ),
    totals AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_passages
               FROM parts GROUP BY doc_id)
    SELECT t.doc_id, COALESCE(r.text, '') AS text, t.n_passages,
           CAST(t.n_passages - COALESCE(r.n_kept, 0) AS BIGINT) AS n_stripped
    FROM totals t LEFT JOIN rebuilt r ON r.doc_id = t.doc_id
    """


def _normalized_text() -> "Column":
    """The exact-dup normalization every signature derivation shares:
    trim, collapse whitespace, lowercase — drift here would silently
    split the hash space between the daily loop and the streams."""
    return F.lower(F.regexp_replace(F.trim(F.col("text")), r"\s+", " "))


def history_signatures(history: DataFrame) -> tuple[DataFrame, DataFrame]:
    """→ (distinct normalized content hashes, simhash fingerprints) for a
    historical corpus — the tables a daily pipeline PERSISTS once per day
    so each batch's :func:`incremental_dedup` never rescans history raw
    text. Pass via ``history_sig=`` (and persist/parquet them between
    days)."""
    hist_h = history.select(F.md5(_normalized_text()).alias("content_hash")).distinct()
    hist_s = simhash(history).select(F.col("simhash").alias("hist_sim"))
    return hist_h, hist_s


def batch_signatures(new_docs: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Per-doc signature frames for ONE batch: ``(doc_id → content_hash,
    doc_id → simhash)`` — the derivations :func:`incremental_dedup`
    makes internally, exposed so a caller that needs them MORE than once
    per batch (flags + near re-sightings + survivor state appends, the
    streaming/daily loop shape) computes the SimHash aggregation a
    single time and shares it via ``new_sig=``/persist instead of paying
    the tokenize + two-agg pass once per consumer. Results are
    bit-identical to the internal derivations (same normalization, same
    fingerprint)."""
    new_h = new_docs.select(
        "doc_id", F.md5(_normalized_text()).alias("content_hash")
    )
    return new_h, simhash(new_docs)


def advance_signatures(
    history_sig: tuple[DataFrame, DataFrame], survivors: DataFrame
) -> tuple[DataFrame, DataFrame]:
    """Day-N → day-N+1 signature advance: APPEND the day's survivors'
    signatures to the persisted history tables — the O(new docs/day)
    operation a daily pipeline actually runs, never a re-derivation over
    the whole history.

    No distinct pass over the history side is needed, by construction:
    a survivor's content hash is absent from the history hashes (it
    passed the exact-dup check against exactly that table), and
    :func:`history_signatures` already distincts within the batch — so
    plain union IS globally distinct. The fingerprint table is per-doc
    (not distinct) and appends the same way. Growth therefore tracks
    survivors, not history size; with the tables persisted as parquet a
    day's advance is one partition append."""
    hist_h, hist_s = history_sig
    day_h, day_s = history_signatures(survivors)
    return hist_h.unionByName(day_h), hist_s.unionByName(day_s)


#: default packed-bloom geometry for the incremental-dedup prefilter —
#: m sized by the standard rule m ≈ -n·ln(fpp)/ln(2)² for the expected
#: history cardinality; k=4 matches the sketch family default
BLOOM_M, BLOOM_K = 1 << 20, 4

#: history-size gate for the bloom prefilter: below this many (estimated)
#: history keys the probe is pure overhead — a ≤250k-row hash table is
#: under Spark's broadcast-join threshold (≈10 MB at ~40 B/row), so the
#: exact join is ALREADY a scan-local broadcast probe and the pandas
#: bloom pass just adds a second pass over the batch (measured at sf0.01:
#: prefiltered query 4.04 s vs 3.04 s plain, the r7 verdict's finding).
#: Above it, the join shuffles and the probe's 98%+ row reduction pays.
#: The estimate comes from the bitset's own fill ratio
#: (:func:`sketches.bloom_cardinality_packed`) — no extra state reads.
BLOOM_GATE_MIN_HISTORY = 250_000

#: design fill ratio the sizing rule targets: at the sized cardinality the
#: bitset is ~30% set, fpp ≈ 0.3⁴ ≈ 0.8% with k=4 — and the filter keeps
#: usable headroom (~2× growth before fill 0.5) between rebuilds
BLOOM_TARGET_FILL = 0.3

#: hard cap on a sized bitset: 2³⁰ bits = 128 MB packed — still a
#: broadcastable constant; histories beyond its comfort (~300M keys at
#: k=4) should shard the filter, not grow it
BLOOM_CAP_M = 1 << 30


def sized_bloom_m(
    n_keys: int, k: int = BLOOM_K, floor: int = BLOOM_M, cap: int = BLOOM_CAP_M
) -> int:
    """Bitset size (bits) for an expected key cardinality — the fix for
    the fixed-capacity failure mode: a constant ``m`` saturates as history
    grows (fill → 1), and while the prefilter stays CORRECT (bloom is
    advisory; the exact join resolves), it silently degrades into a
    no-op scan tax. Sizing rule: smallest power of two ≥
    ``k·n / −ln(1 − TARGET_FILL)`` (the fill inversion of
    ``fill = 1 − e^(−kn/m)``), never below ``floor`` (small histories
    keep the default geometry) nor above ``cap``. Power-of-two rounding
    means the realized fill at ``n_keys`` lands in (0.15, 0.3]. Called at
    SEED and at every expiring REBUILD — the two moments a bitset is
    built from scratch and can change geometry; OR-advances in between
    keep whatever ``m`` the sidecar meta carries."""
    import math

    need = int(math.ceil(k * max(int(n_keys), 1) / -math.log1p(-BLOOM_TARGET_FILL)))
    m = int(floor)
    while m < need and m < cap:
        m <<= 1
    return min(m, cap)


def history_bloom(
    hist_h: DataFrame, m: int = BLOOM_M, k: int = BLOOM_K
) -> bytes:
    """Packed Bloom bitset over the history's distinct content hashes —
    the third piece of daily signature state, maintained BESIDE the
    (hashes, sims) tables: build once from the day-0 hashes, then
    ``bloom_merge_packed`` (bitwise OR) each day's survivor bits in. The
    pack's collect is bounded by m bit rows (index-build cost, not
    per-batch)."""
    from .sketches import bloom_bits, bloom_pack

    return bloom_pack(bloom_bits(hist_h, "content_hash", m=m, k=k), m)


def _band_key() -> "Column":
    """String key of one SimHash band occurrence — the value domain of the
    band bloom (shared by build and probe sides)."""
    return F.concat(
        F.col("band_idx").cast("string"), F.lit(":"), F.col("band_val").cast("string")
    )


def history_band_bloom(
    hist_s: DataFrame, max_hamming: int = 3, m: int = BLOOM_M, k: int = BLOOM_K
) -> bytes:
    """Packed Bloom bitset over the history's SimHash BAND values — the
    near-dup analog of :func:`history_bloom`: a new doc's band that is
    not in this set cannot produce a banded-join candidate, so the
    genuinely-novel majority of a batch skips the band join. Maintained
    the same way (OR-advance with each day's survivor bands)."""
    from .sketches import bloom_bits, bloom_pack

    bands = _simhash_bands(max_hamming)
    arr = F.explode(
        F.array(*[
            F.struct(
                F.lit(i).alias("band_idx"),
                F.shiftright(F.col("hist_sim"), sh)
                .bitwiseAND(F.lit((1 << w) - 1))
                .alias("band_val"),
            )
            for i, (sh, w) in enumerate(bands)
        ])
    ).alias("b")
    keys = (
        hist_s.select(arr)
        .select(F.col("b.band_idx").alias("band_idx"), F.col("b.band_val").alias("band_val"))
        .select(_band_key().alias("__bkey"))
    )
    return bloom_pack(bloom_bits(keys, "__bkey", m=m, k=k), m)


def matched_history_sims(
    new_docs: DataFrame, hist_s: DataFrame, max_hamming: int = 3
) -> DataFrame:
    """→ the DISTINCT history fingerprints (``hist_sim``) that at least
    one doc of ``new_docs`` near-matches (banded equi-join + exact
    hamming refine — the same candidate generation as the NEAR check in
    :func:`incremental_dedup`, keeping the matched HISTORY side instead
    of the flagged batch side). The retention loop's sighting signal for
    the fingerprint table: content that keeps being re-crawled — exactly
    or near — keeps its fingerprint alive, so ``compact
    --expire-before`` can expire the rest and a re-crawled EXPIRED doc
    is genuinely new end to end. An exact dup re-sights its fingerprint
    through this same join when its raw text is identical (hamming 0);
    a case-variant exact dup whose simhash drifted past max_hamming
    re-sights only the hash — documented edge, flags stay conservative."""
    return (
        matched_history_pairs(simhash(new_docs), hist_s, max_hamming)
        .select("hist_sim")
        .distinct()
    )


def _banded(
    df: DataFrame, col: str, max_hamming: int, cols: tuple[str, ...] | None = None
) -> DataFrame:
    """Explode one SimHash column into its ``max_hamming + 1`` band
    occurrences (pigeonhole candidate keys), keeping every input column.
    ``cols`` names the input columns when the caller knows them statically
    — ``df.columns`` forces an eager Catalyst analysis of the input plan
    (noticeable when it embeds the 48-agg fingerprint tree), paid once per
    band side per batch for information the call site already has."""
    bands = _simhash_bands(max_hamming)
    keep = list(cols) if cols is not None else df.columns
    arr = F.explode(
        F.array(*[
            F.struct(
                F.lit(i).alias("band_idx"),
                F.shiftright(F.col(col), sh)
                .bitwiseAND(F.lit((1 << w) - 1))
                .alias("band_val"),
            )
            for i, (sh, w) in enumerate(bands)
        ])
    ).alias("b")
    return df.select(*keep, arr).select(*keep, "b.band_idx", "b.band_val")


def matched_history_pairs(
    new_s: DataFrame,
    hist_s: DataFrame,
    max_hamming: int = 3,
    history_band_bloom_packed: bytes | None = None,
    bloom_m: int = BLOOM_M,
    bloom_k: int = BLOOM_K,
    bloom_gate_min_history: int = BLOOM_GATE_MIN_HISTORY,
) -> DataFrame:
    """→ ``(doc_id, hist_sim)`` candidate MATCH pairs between a batch's
    fingerprints (``new_s``: doc_id, simhash) and the history fingerprint
    table — banded equi-join + exact hamming ≤ ``max_hamming`` refine,
    NOT deduplicated (a pair surviving several band collisions appears
    several times; each consumer applies its own distinct, exactly as the
    inline forms always did). This is the ONE banded join both the NEAR
    flag (distinct doc_id) and the retention re-sighting signal (distinct
    hist_sim) are projections of — the streaming/daily loop persists it
    per batch so the join runs once, not once per consumer.

    ``history_band_bloom_packed`` applies the band-bloom prefilter under
    the same size gate as :func:`incremental_dedup`; pairs are identical
    with or without it (a truly matching band is by definition present in
    the history's band set, so the bloom — zero false negatives — cannot
    drop it)."""
    if (
        bloom_gate_min_history
        and history_band_bloom_packed is not None
    ):
        from .sketches import bloom_cardinality_packed

        if (
            bloom_cardinality_packed(
                history_band_bloom_packed, bloom_m, bloom_k
            )
            < bloom_gate_min_history
        ):
            history_band_bloom_packed = None
    new_bands = _banded(
        new_s.select("doc_id", "simhash"), "simhash", max_hamming,
        cols=("doc_id", "simhash"),
    )
    if history_band_bloom_packed is not None:
        from .sketches import bloom_maybe_contains_packed

        keyed = new_bands.withColumn("__bkey", _band_key())
        probed = bloom_maybe_contains_packed(
            keyed, "__bkey", history_band_bloom_packed, m=bloom_m, k=bloom_k
        )
        new_bands = probed.filter(F.col("bloom_maybe")).drop(
            "bloom_maybe", "__bkey"
        )
    cand = new_bands.join(
        _banded(
            hist_s.select("hist_sim"), "hist_sim", max_hamming,
            cols=("hist_sim",),
        ),
        on=["band_idx", "band_val"],
    )
    return cand.filter(
        F.bit_count(F.col("simhash").bitwiseXOR(F.col("hist_sim")))
        <= max_hamming
    ).select("doc_id", "hist_sim")


def incremental_dedup(
    new_docs: DataFrame,
    history: DataFrame | None = None,
    max_hamming: int = 3,
    history_sig: tuple[DataFrame, DataFrame] | None = None,
    history_bloom_packed: bytes | None = None,
    history_band_bloom_packed: bytes | None = None,
    bloom_m: int = BLOOM_M,
    bloom_k: int = BLOOM_K,
    bloom_gate_min_history: int = BLOOM_GATE_MIN_HISTORY,
    new_sig: tuple[DataFrame, DataFrame] | None = None,
    near_pairs: DataFrame | None = None,
) -> DataFrame:
    """Dedup a NEW batch against a HISTORICAL corpus — the daily-crawl-
    increment pattern: a new document is dropped if it exactly matches any
    historical document (normalized md5 anti-semantics) or is a SimHash
    near-duplicate of one (banded equi-join against the history's
    fingerprints, exact hamming ≤ ``max_hamming`` refine). Returns every
    new doc with (exact_dup, near_dup, is_kept) flags.

    Scale shape: the exact check is one left-semi-style join on 16-byte
    hashes; the near check joins the new batch's bands against the
    history's bands (pigeonhole recall exact at ≤ max_hamming with
    max_hamming+1 bands) — the history side is the big one and arrives
    pre-fingerprinted in practice: compute :func:`history_signatures`
    ONCE per day, persist them, and pass ``history_sig=`` so no batch
    ever rescans history raw text. Nothing is ever quadratic in either
    corpus.

    ``history_bloom_packed`` (a :func:`history_bloom` bitset over the SAME
    hashes table, maintained incrementally via ``bloom_merge_packed``)
    turns the exact check into probe-then-join — the reference's own
    cheap-reject-before-expensive-lookup shape (apps/dedup/src/
    encoder.c:666-703 probes 4 hash bytes before walking the bucket,
    hashtable.c:89-127): only rows whose k bits are ALL set ever enter
    the history join, so at 100 TB the definitely-new majority of a
    day's crawl resolves scan-locally against a broadcast constant and
    the join's stream side shrinks to true-dups + the fpp sliver. Zero
    false negatives by construction ⇒ flags are IDENTICAL with or
    without the bloom (driver-proven: dedup_incremental_bloom_prefilter
    shares dedup_incremental_batch's oracle verbatim).

    ``history_band_bloom_packed`` (:func:`history_band_bloom`) is the
    NEAR check's counterpart: a bitset over the history's SimHash band
    values pre-filters the new batch's bands before the banded equi-join
    — same zero-false-negative parity (an absent band cannot join), same
    OR-advance maintenance.

    SIZE-AWARE GATE (``bloom_gate_min_history``): each bloom is USED only
    when its own fill-ratio cardinality estimate clears the gate — below
    it the history side broadcast-joins anyway and the probe is a pure
    extra pass over the batch (see ``BLOOM_GATE_MIN_HISTORY``). The
    daily/streaming loops therefore pass their blooms unconditionally and
    the right form picks itself as history grows, with flags identical by
    the zero-false-negative argument either way. Pass ``0`` to force the
    probe (the oracle-parity proof query does).

    ``new_sig=(new_h, new_s)`` (from :func:`batch_signatures`, typically
    persisted) substitutes precomputed per-doc signature frames for the
    internal derivations, and ``near_pairs`` (from
    :func:`matched_history_pairs` over the SAME ``new_s``/``hist_s``)
    substitutes the banded near join — the streaming/daily sinks pass
    both so the SimHash aggregation and the band join each run once per
    batch instead of once per consumer. Flags are identical: the
    substitutes are the same expressions over the same inputs."""
    if history_sig is None:
        if history is None:
            raise ValueError("pass either history or history_sig")
        history_sig = history_signatures(history)
    hist_h, hist_s = history_sig

    if bloom_gate_min_history:
        from .sketches import bloom_cardinality_packed

        if (
            history_bloom_packed is not None
            and bloom_cardinality_packed(history_bloom_packed, bloom_m, bloom_k)
            < bloom_gate_min_history
        ):
            history_bloom_packed = None
        if (
            history_band_bloom_packed is not None
            and bloom_cardinality_packed(
                history_band_bloom_packed, bloom_m, bloom_k
            )
            < bloom_gate_min_history
        ):
            history_band_bloom_packed = None

    if new_sig is not None:
        new_h, new_s = new_sig
        new_h = new_h.select("doc_id", "content_hash")
    else:
        new_h = new_docs.select(
            "doc_id", F.md5(_normalized_text()).alias("content_hash")
        )
        new_s = None
    hh = hist_h.withColumnRenamed("content_hash", "hh")

    # The exact check is EXISTS semantics (matching the SQL oracle): left
    # join + MAX-aggregate back to one row per doc, not a bare left join +
    # isNotNull. The aggregate makes the check duplicate-TOLERANT on the
    # history side — a replayed state append or a mid-compaction crash
    # that leaves a hash present twice collapses in the agg instead of
    # fanning flag rows out. Deliberately ONE pass over ``cand``: a
    # semi-join + join-back formulation would reference the candidate
    # frame twice, recomputing an unpinned batch derivation per branch
    # (measured +60% on the day-3 loop, whose batches are lazy by design).
    def _exact_flags(cand: DataFrame) -> DataFrame:
        # F.col, not cand.content_hash: the attribute access forces an
        # eager analysis of cand's plan (the batch md5 derivation) just to
        # resolve a name that is unambiguous in the join (hh's only column
        # is the renamed "hh")
        return (
            cand.join(hh, F.col("content_hash") == F.col("hh"), "left")
            .groupBy("doc_id", "content_hash")
            .agg(F.max(F.col("hh").isNotNull()).alias("exact_dup"))
        )

    if history_bloom_packed is not None:
        from .sketches import bloom_maybe_contains_packed

        probed = bloom_maybe_contains_packed(
            new_h, "content_hash", history_bloom_packed, m=bloom_m, k=bloom_k
        )
        # bloom_maybe=False GUARANTEES absence: those rows bypass the
        # history join entirely (the row reduction is the whole point —
        # keep them out of the join's stream side, not behind a residual
        # join predicate that would still shuffle/probe every row)
        definitely_new = probed.filter(~F.col("bloom_maybe")).select(
            "doc_id", "content_hash", F.lit(False).alias("exact_dup")
        )
        exact = _exact_flags(
            probed.filter(F.col("bloom_maybe")).select("doc_id", "content_hash")
        ).unionByName(definitely_new)
    else:
        exact = _exact_flags(new_h)

    if near_pairs is None:
        # the NEAR check's band-bloom prefilter (inside
        # matched_history_pairs) shares the exact check's zero-false-
        # negative argument: a band absent from the history's band set
        # cannot join, so only maybe-bands enter the banded equi-join —
        # at 100 TB the history band table is (max_hamming+1)·|history|
        # rows and this keeps the genuinely-new majority of a batch's
        # bands out of its shuffle. Flags identical (false positives
        # just join and find nothing). The bloom was already gated above,
        # so the helper's own gate is disabled.
        if new_s is None:
            new_s = simhash(new_docs)
        near_pairs = matched_history_pairs(
            new_s,
            hist_s,
            max_hamming=max_hamming,
            history_band_bloom_packed=history_band_bloom_packed,
            bloom_m=bloom_m,
            bloom_k=bloom_k,
            bloom_gate_min_history=0,
        )
    near = (
        near_pairs.select("doc_id")
        .distinct()
        .withColumn("near_dup", F.lit(True))
    )
    out = exact.join(near, on="doc_id", how="left").select(
        "doc_id",
        "content_hash",
        "exact_dup",
        F.coalesce("near_dup", F.lit(False)).alias("near_dup"),
    )
    return out.withColumn(
        "is_kept", ~F.col("exact_dup") & ~F.col("near_dup")
    )


def incremental_dedup_oracle_sql(
    history_src: str, new_src: str, max_hamming: int = 3, bits: int = SIMHASH_BITS
) -> str:
    h = "CAST(('0x' || substr(md5(token), 1, 8)) AS BIGINT)"
    votes = ", ".join(
        f"SUM(CASE WHEN (h >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS v{i}"
        for i in range(bits)
    )
    sim = " + ".join(
        f"CASE WHEN v{i} > 0 THEN CAST({1 << i} AS BIGINT) ELSE 0 END"
        for i in range(bits)
    )
    norm = "md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g')))"
    return f"""
    WITH hist AS ({history_src}), newb AS ({new_src}),
    hist_tok AS (
      SELECT doc_id, {h} AS h
      FROM (SELECT doc_id, UNNEST(regexp_split_to_array(trim(text), '\\s+')) AS token FROM hist)
    ),
    new_tok AS (
      SELECT doc_id, {h} AS h
      FROM (SELECT doc_id, UNNEST(regexp_split_to_array(trim(text), '\\s+')) AS token FROM newb)
    ),
    hist_sim AS (SELECT {sim} AS s FROM (SELECT doc_id, {votes} FROM hist_tok GROUP BY doc_id)),
    new_sim AS (SELECT doc_id, {sim} AS s FROM (SELECT doc_id, {votes} FROM new_tok GROUP BY doc_id)),
    hist_hash AS (SELECT DISTINCT {norm} AS ch FROM hist),
    flags AS (
      SELECT n.doc_id,
             {norm.replace('text', 'n.text')} AS content_hash,
             EXISTS (SELECT 1 FROM hist_hash hh
                     WHERE hh.ch = {norm.replace('text', 'n.text')}) AS exact_dup,
             EXISTS (SELECT 1 FROM hist_sim hs, new_sim ns
                     WHERE ns.doc_id = n.doc_id
                       AND bit_count(xor(ns.s, hs.s)) <= {max_hamming}) AS near_dup
      FROM newb n
    )
    SELECT doc_id, content_hash, exact_dup, near_dup,
           (NOT exact_dup AND NOT near_dup) AS is_kept
    FROM flags
    """


# ---------------------------------------------------------------------------
# Substring-level duplication: duplicated n-gram spans (Lee et al. 2022,
# "Deduplicating Training Data Makes Language Models Better" — the
# exact-substring family the doc-level methods above can't see: boilerplate
# and licence blocks repeated across otherwise-distinct documents).
# ---------------------------------------------------------------------------


def dup_ngram_spans(docs: DataFrame, n: int = 8) -> DataFrame:
    """Per-document duplicated-substring coverage: every token n-gram that
    appears in MORE THAN ONE distinct document is a duplicated span; a
    token is covered if any duplicated n-gram overlaps it. Returns
    (doc_id, n_tokens, n_dup_ngrams, covered_tokens, dup_frac) for every
    doc with ≥ n tokens — dup_frac is the filter signal training pipelines
    threshold on.

    Scale shape: the only shuffle is the group-by on the 8-byte n-gram
    hash (map-side combinable count-distinct over doc ids); candidate
    positions explode only for *duplicated* grams (a small minority of a
    real corpus), bounded by n per start. Hot boilerplate grams are the
    skew risk — the same guard as the Jaccard prefix filter applies (cap
    per-gram fan-out at the dup-decision threshold: >1 distinct doc is
    already known after 2 rows)."""
    w = F.split(F.trim(F.col("text")), r"\s+")
    base = docs.select("doc_id", w.alias("w")).filter(F.size("w") >= n)
    base = base.select("doc_id", F.size("w").alias("n_tokens"), "w")
    grams = base.select(
        "doc_id",
        "n_tokens",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.col("n_tokens") - n + 1),
                lambda i: F.struct(
                    i.alias("start"),
                    F.xxhash64(F.array_join(F.slice("w", i, n), " ")).alias("g"),
                ),
            )
        ).alias("s"),
    ).select("doc_id", "n_tokens", "s.start", "s.g")
    # "appears in >1 distinct doc" == min(doc_id) != max(doc_id): plain
    # map-side-combinable aggregates, no count-distinct expansion — the
    # per-gram work stops mattering past 2 docs (pigeonhole), and this
    # formulation never materializes the distinct doc set per gram.
    dup_g = (
        grams.groupBy("g")
        .agg(F.min("doc_id").alias("d0"), F.max("doc_id").alias("d1"))
        .filter(F.col("d0") != F.col("d1"))
        .select("g")
    )
    dstarts = grams.join(dup_g, on="g", how="left_semi")
    cnt = dstarts.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_dup_ngrams"))
    cov = (
        dstarts.select(
            "doc_id", F.explode(F.sequence(F.col("start"), F.col("start") + n - 1)).alias("pos")
        )
        .distinct()
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("covered_tokens"))
    )
    return (
        base.select("doc_id", "n_tokens")
        .join(cnt, on="doc_id", how="left")
        .join(cov, on="doc_id", how="left")
        .select(
            "doc_id",
            "n_tokens",
            F.coalesce("n_dup_ngrams", F.lit(0)).cast("long").alias("n_dup_ngrams"),
            F.coalesce("covered_tokens", F.lit(0)).cast("long").alias("covered_tokens"),
            F.round(
                F.coalesce("covered_tokens", F.lit(0)).cast("double")
                / F.col("n_tokens").cast("double"),
                6,
            ).alias("dup_frac"),
        )
    )


def dup_ngram_spans_oracle_sql(n: int = 8, docs_src: str = "SELECT doc_id, text FROM documents") -> str:
    """DuckDB mirror of :func:`dup_ngram_spans` — groups by the gram STRING
    (the Spark side groups by its 64-bit hash: identical results absent a
    hash collision, which at corpus scale is ≪ 1e-9)."""
    return f"""
    WITH toks AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w FROM ({docs_src})
    ),
    base AS (SELECT doc_id, len(w) AS n_tokens, w FROM toks WHERE len(w) >= {n}),
    grams AS (
      SELECT doc_id, n_tokens, i AS start, array_to_string(w[i:i+{n - 1}], ' ') AS gram
      FROM base, UNNEST(range(1, n_tokens - {n} + 2)) AS t(i)
    ),
    dupg AS (SELECT gram FROM grams GROUP BY gram HAVING count(DISTINCT doc_id) > 1),
    dstarts AS (SELECT doc_id, start FROM grams WHERE gram IN (SELECT gram FROM dupg)),
    cnt AS (SELECT doc_id, count(*) AS n_dup FROM dstarts GROUP BY doc_id),
    cov AS (
      SELECT doc_id, count(DISTINCT pos) AS covered
      FROM (SELECT doc_id, start + j AS pos FROM dstarts, UNNEST(range(0, {n})) AS u(j))
      GROUP BY doc_id
    )
    SELECT b.doc_id, b.n_tokens,
           CAST(COALESCE(cnt.n_dup, 0) AS BIGINT) AS n_dup_ngrams,
           CAST(COALESCE(cov.covered, 0) AS BIGINT) AS covered_tokens,
           ROUND(CAST(COALESCE(cov.covered, 0) AS DOUBLE) / CAST(b.n_tokens AS DOUBLE), 6) AS dup_frac
    FROM base b
    LEFT JOIN cnt ON cnt.doc_id = b.doc_id
    LEFT JOIN cov ON cov.doc_id = b.doc_id
    """
