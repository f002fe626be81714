"""Deterministic sampling / remixing (operators/sampling.py) and
substring-level duplicated n-gram spans (dedup_text.dup_ngram_spans)."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from bensp_suite_spark.operators import sampling as SMP
from bensp_suite_spark.operators.dedup_text import dup_ngram_spans


@pytest.fixture(scope="module")
def docs(spark):
    rows = [(i, f"src{i % 4}") for i in range(400)]
    return spark.createDataFrame(rows, "doc_id long, source string")


def test_hash_sample_is_layout_independent(spark, docs):
    a = {r["doc_id"] for r in SMP.hash_sample(docs, 0.3).collect()}
    b = {
        r["doc_id"]
        for r in SMP.hash_sample(docs.repartition(7, "source"), 0.3).collect()
    }
    assert a == b and 0 < len(a) < 400


def test_hash_sample_rate_is_monotone(spark, docs):
    small = {r["doc_id"] for r in SMP.hash_sample(docs, 0.1).collect()}
    big = {r["doc_id"] for r in SMP.hash_sample(docs, 0.4).collect()}
    assert small < big  # strictly nested: same key order, higher cut


def test_stratified_sample_drops_unlisted_strata(spark, docs):
    out = SMP.stratified_sample(docs, {"src0": 1.0, "src1": 0.5}, "source").collect()
    assert {r["source"] for r in out} <= {"src0", "src1"}
    assert sum(1 for r in out if r["source"] == "src0") == 100  # rate 1.0 keeps all


def test_resample_to_mix_rates_and_membership(spark, docs):
    # src0 weight 3, others 1 → K = min(100/3, 100/1) = 100/3;
    # keep_rate: src0 = 3·K/100 = 1.0, others = K/100 = 1/3
    weights = {"src0": 3, "src1": 1, "src2": 1, "src3": 1}
    rates = {r["stratum"]: r["keep_rate"] for r in SMP.mix_rates(docs, weights, "source").collect()}
    assert rates["src0"] == 1.0
    assert abs(rates["src1"] - 1 / 3) < 1e-12
    out = SMP.resample_to_mix(docs, weights, "source")
    got = {r["doc_id"] for r in out.collect()}
    # membership == the per-stratum hash filter applied independently
    expected = set()
    for s, rate in rates.items():
        expected |= {
            r["doc_id"]
            for r in docs.filter(F.col("source") == s)
            .filter(SMP.hash_bucket(F.col("doc_id")).cast("double") < rate * SMP.BUCKET_SPACE)
            .collect()
        }
    assert got == expected
    # the heavy stratum keeps everything (rate 1.0)
    assert sum(1 for r in out.collect() if r["source"] == "src0") == 100


def test_dup_ngram_spans_planted(spark):
    shared = "a b c d e f g h"  # one 8-gram, shared by docs 1 and 2
    rows = [
        (1, shared + " x y z"),
        (2, "p q " + shared),
        (3, "entirely distinct words nine ten eleven twelve thirteen"),
    ]
    out = {
        r["doc_id"]: r
        for r in dup_ngram_spans(
            spark.createDataFrame(rows, "doc_id long, text string"), n=8
        ).collect()
    }
    # doc 1: 11 tokens, 4 grams, 1 duplicated (start 1) covering tokens 1-8
    assert out[1]["n_tokens"] == 11
    assert out[1]["n_dup_ngrams"] == 1
    assert out[1]["covered_tokens"] == 8
    assert out[1]["dup_frac"] == round(8 / 11, 6)
    # doc 2: 10 tokens, duplicated gram starts at 3, covers tokens 3-10
    assert out[2]["n_dup_ngrams"] == 1
    assert out[2]["covered_tokens"] == 8
    # doc 3: clean
    assert out[3]["n_dup_ngrams"] == 0 and out[3]["dup_frac"] == 0.0


def test_dup_ngram_spans_overlapping_grams_union_coverage(spark):
    # two docs share a 9-token run → two overlapping duplicated 8-grams;
    # coverage is the UNION of their spans (9 tokens), not 16
    run = "t1 t2 t3 t4 t5 t6 t7 t8 t9"
    rows = [(1, run + " tailone"), (2, run + " tailtwo")]
    out = {
        r["doc_id"]: r
        for r in dup_ngram_spans(
            spark.createDataFrame(rows, "doc_id long, text string"), n=8
        ).collect()
    }
    for d in (1, 2):
        assert out[d]["n_dup_ngrams"] == 2
        assert out[d]["covered_tokens"] == 9


def test_kmv_sketch_merge_property(spark):
    from bensp_suite_spark.operators import sketches as SK

    a = spark.range(0, 5000).select(F.col("id").alias("v"))
    b = spark.range(3000, 9000).select(F.col("id").alias("v"))
    k = 64
    merged = {
        r["h"]
        for r in SK.kmv_merge(
            SK.kmv_hashes(a, "v", k), SK.kmv_hashes(b, "v", k), k
        ).collect()
    }
    direct = {r["h"] for r in SK.kmv_hashes(a.union(b), "v", k).collect()}
    assert merged == direct  # sketch(A ∪ B) == merge(sketch(A), sketch(B))


def test_url_canonicalization_cross_engine_and_dedup(spark):
    """canonical_url == canonical_url_sql on hostile real-world URL noise
    (case, www., default ports, duplicate slashes kept, tracking params,
    param order, fragments, padding), and url_dedup groups variants under
    a first-wins winner."""
    import duckdb

    from bensp_suite_spark.operators import urls as U

    cases = [
        "HTTPS://WWW.News.Example.COM:443/Docs/7/?utm_source=f&b=2&a=1#frag",
        "https://news.example.com/Docs/7?a=1&b=2",
        "http://Example.org:80//path//",
        "http://example.org//path",
        "https://example.com",
        "https://example.com/?fbclid=xyz",
        "ftp://Mixed.Case.Host:21/file",  # non-http ports preserved
        "  https://pad.example.com/x  ",
        "https://example.com/a?ref=home&z=9&utm_campaign=c&m=1",
    ]
    df = spark.createDataFrame(list(enumerate(cases)), "doc_id long, url string")
    got = {
        r["doc_id"]: r["c"]
        for r in df.select("doc_id", U.canonical_url(F.col("url")).alias("c")).collect()
    }
    con = duckdb.connect()
    con.execute("CREATE TABLE t(doc_id BIGINT, url VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?, ?)", list(enumerate(cases)))
    want = dict(con.execute(f"SELECT doc_id, {U.canonical_url_sql('url')} FROM t").fetchall())
    assert got == want
    # variant groups collapse: 0↔1 (case/port/tracking/slash), 2↔3, 4↔5
    assert got[0] == got[1] and got[2] == got[3] and got[4] == got[5]
    out = {r["doc_id"]: r["is_dup"] for r in U.url_dedup(df, "url").collect()}
    assert out[0] is False and out[1] is True   # first-wins by id
    assert out[2] is False and out[3] is True
    assert out[4] is False and out[5] is True
    assert out[6] is False and out[7] is False and out[8] is False


def test_cap_per_domain_is_deterministic_and_blocks(spark):
    """cap_per_domain: blocklisted hosts never survive, per-host output
    is exactly min(n_docs, cap), survivors are chosen by content hash
    (layout-independent — a repartition changes nothing), and url_host
    strips www./ports but keeps subdomains distinct."""
    from bensp_suite_spark.operators import urls as U

    rows = [
        (i, f"https://{'WWW.' if i % 2 else ''}{'spam' if i % 3 == 0 else 'ok'}"
            f".example.com{':443' if i % 5 == 0 else ''}/p/{i}")
        for i in range(60)
    ]
    rows.append((100, "https://sub.ok.example.com/p/x"))  # distinct subdomain
    df = spark.createDataFrame(rows, "doc_id long, url string")
    out = U.cap_per_domain(df, "url", 10, blocklist=["spam.example.com"])
    got = out.collect()
    hosts = {r["host"] for r in got}
    assert "spam.example.com" not in hosts
    assert "sub.ok.example.com" in hosts  # subdomains are their own key
    per = {}
    for r in got:
        per[r["host"]] = per.get(r["host"], 0) + 1
    assert per["ok.example.com"] == 10  # 40 offered, capped
    assert per["sub.ok.example.com"] == 1
    again = {tuple(r) for r in
             U.cap_per_domain(df.repartition(7), "url", 10,
                              blocklist=["spam.example.com"]).collect()}
    assert again == {tuple(r) for r in got}


def test_bloom_prefilter_contract(spark):
    """Bloom membership sketch: zero false negatives (every sketched value
    tests maybe=true), NULL keys never set bits, duplicate candidate rows
    pass through untouched, and bits(A ∪ B) == bits(A) ∪ bits(B) (the
    mergeable-sketch property that lets per-day bit tables roll up)."""
    from bensp_suite_spark.operators import sketches as SK

    m, k = 1 << 12, 4
    hist = spark.createDataFrame(
        [(f"value-{i}",) for i in range(200)] + [(None,)], "v string"
    )
    bits = SK.bloom_bits(hist, "v", m=m, k=k)
    assert bits.filter(F.col("bit").isNull()).count() == 0
    cand = spark.createDataFrame(
        [(1, "value-7"), (2, "value-7"),          # duplicates pass through
         (3, "definitely-not-present-xyz"), (4, "value-199")],
        "id long, v string",
    )
    out = {(r["id"], r["v"]): r["bloom_maybe"]
           for r in SK.bloom_maybe_contains(cand, "v", bits, m=m, k=k).collect()}
    assert len(out) == 4  # both duplicate rows survive
    assert out[(1, "value-7")] and out[(2, "value-7")] and out[(4, "value-199")]
    # merge property
    a = SK.bloom_bits(hist.filter("v < 'value-5'"), "v", m=m, k=k)
    b = SK.bloom_bits(hist.filter("v >= 'value-5'"), "v", m=m, k=k)
    merged = {r["bit"] for r in a.union(b).distinct().collect()}
    assert merged == {r["bit"] for r in bits.collect()}
    # statistical sanity at this sizing: a non-member is almost surely
    # rejected (fpp ≈ (1-e^{-kn/m})^k ≈ 3e-4 here)
    assert not out[(3, "definitely-not-present-xyz")]


def test_bloom_packed_matches_join_form_and_plan(spark):
    """The packed-bitset membership test (production broadcast path) must
    agree row-for-row with the join form, and the join form must plan as
    broadcast joins (no shuffle on the candidate side)."""
    from bensp_suite_spark.operators import sketches as SK

    m, k = 1 << 12, 4
    hist = spark.createDataFrame([(f"v{i}",) for i in range(300)], "v string")
    bits = SK.bloom_bits(hist, "v", m=m, k=k)
    cand = spark.createDataFrame(
        [(i, f"v{i * 3}") for i in range(200)] + [(999, None)],
        "id long, v string",
    )
    join_form = {
        r["id"]: r["bloom_maybe"]
        for r in SK.bloom_maybe_contains(cand, "v", bits, m=m, k=k).collect()
    }
    packed = SK.bloom_pack(bits, m)
    assert len(packed) == m // 8
    packed_form = {
        r["id"]: r["bloom_maybe"]
        for r in SK.bloom_maybe_contains_packed(cand, "v", packed, m=m, k=k).collect()
    }
    # NULL keys: join form yields NULL-ish false semantics, packed yields
    # False — both must reject; compare with normalization
    assert {i: bool(v) for i, v in join_form.items()} == packed_form
    plan = SK.bloom_maybe_contains(cand, "v", bits, m=m, k=k)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert plan.count("BroadcastHashJoin") == k  # one per bit position
    # packed form: the k md5-derived positions are JVM-side expressions
    # feeding the Arrow UDF (scan-stage work), not Python-side hashing
    pplan = (
        SK.bloom_maybe_contains_packed(cand, "v", packed, m=m, k=k)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "ArrowEvalPython" in pplan and "conv(substring(md5(" in pplan


def test_cms_one_sided_error_and_merge(spark):
    """Count-min: estimates are NEVER undercounts (and in a deliberately
    tiny grid some are strict overcounts — collisions exist), and
    sketch(A ∪ B) equals the cell-wise sum of the halves' sketches."""
    from bensp_suite_spark.operators import sketches as SK

    w, d = 32, 3  # tiny grid → guaranteed collisions across 300 keys
    rows = [(f"k{i % 150}",) for i in range(600)]  # each key ×4
    df = spark.createDataFrame(rows, "v string")
    cms = SK.cms_build(df, "v", w=w, d=d)
    true_counts = df.groupBy("v").count()
    est = SK.cms_estimate(true_counts, "v", cms, w=w, d=d).collect()
    assert all(r["cms_est"] >= r["count"] for r in est)  # one-sided
    assert any(r["cms_est"] > r["count"] for r in est)   # collisions real
    # mergeability: cell-wise sum of halves == whole
    a = SK.cms_build(df.limit(300), "v", w=w, d=d)
    b = SK.cms_build(df.exceptAll(df.limit(300)), "v", w=w, d=d)
    merged = {(r["row"], r["col"]): r["cnt"] for r in SK.cms_merge(a, b).collect()}
    whole = {(r["row"], r["col"]): r["cnt"] for r in cms.collect()}
    assert merged == whole
    # NULLs never counted
    with_null = df.union(spark.createDataFrame([(None,)], "v string"))
    assert {tuple(r) for r in SK.cms_build(with_null, "v", w=w, d=d).collect()} == {
        tuple(r) for r in cms.collect()
    }


def test_kmv_exact_below_k(spark):
    from bensp_suite_spark.operators import sketches as SK

    small = spark.range(0, 10).select(F.col("id").alias("v"))
    row = SK.kmv_distinct(small, "v", k=256).collect()[0]
    assert row["n_hashes"] == 10 and row["distinct_est"] == 10.0


def test_bench_regression_guard_thresholds():
    import importlib.util
    import os

    spec = importlib.util.spec_from_file_location(
        "bench", os.path.join(os.path.dirname(__file__), "..", "bench.py")
    )
    bench = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(bench)
    best = {"fast": 0.1, "big": 2.0, "mid": 1.0}
    times = {
        "fast": 0.4,   # 4x ratio but only +0.3 s: jitter, not flagged
        "big": 3.5,    # 1.75x and +1.5 s: flagged
        "mid": 1.4,    # +0.4 s and 1.4x: neither threshold, not flagged
        "new_query": 9.9,  # not in best: never flagged
    }
    flagged = bench.detect_regressions(times, best)
    assert set(flagged) == {"big"}
    assert flagged["big"]["ratio"] == 1.75

    # host normalization: with a population of queries all sitting ~1.4x
    # over their bests (a slower host, the measured r11 situation), the
    # factor is the median ratio and only queries beyond 1.5x of the
    # HOST-NORMALIZED best flag; with few samples the factor stays 1.0
    assert bench.host_speed_factor(times, best) == 1.0  # n < HOST_NORM_MIN_N
    pop_best = {f"t{i}": 1.0 for i in range(30)}
    pop_times = {f"t{i}": 1.4 for i in range(30)}
    pop_times["t0"] = 1.6   # 1.6x raw: under 1.5x of the 1.4 host factor
    pop_times["t1"] = 2.8   # 2.0x raw = 2.0x of host-normalized -> flagged
    host = bench.host_speed_factor(pop_times, pop_best)
    assert host == 1.4
    pop_flagged = bench.detect_regressions(pop_times, pop_best, host)
    assert set(pop_flagged) == {"t1"}
    assert pop_flagged["t1"]["ratio"] == 2.8
    assert pop_flagged["t1"]["host_norm_ratio"] == 2.0
    # the cap: a 3x-slower suite is not absorbed as "the host"
    cap_times = {f"t{i}": 3.0 for i in range(30)}
    assert bench.host_speed_factor(cap_times, pop_best) == bench.HOST_NORM_CAP


def test_merge_partial_aggs_equals_full_recompute(spark):
    from bensp_suite_spark.operators.relational import merge_partial_aggs

    df = spark.range(0, 3000).select(
        "id",
        (F.col("id") % 7).alias("k"),
        (F.col("id") * 13 % 101).cast("decimal(18,4)").alias("v"),
    )

    def partial(d):
        return d.groupBy("k").agg(
            F.count(F.lit(1)).alias("n"), F.sum("v").alias("v"),
            F.min("v").alias("mn"), F.max("v").alias("mx"),
        )

    parts = [partial(df.filter(F.col("id") % 3 == i)) for i in range(3)]
    merged = merge_partial_aggs(
        parts, ["k"], {"n": "sum", "v": "sum", "mn": "min", "mx": "max"}
    )
    full = partial(df)
    key = lambda rows: {r["k"]: (r["n"], r["v"], r["mn"], r["mx"]) for r in rows}
    assert key(merged.collect()) == key(full.collect())


def test_fixture_build_time_is_reported_separately(spark):
    """Queries that construct tempdir inputs in-body report the build
    seconds through FIXTURE_BUILD_SECONDS so the bench records
    {build_sec, run_sec} and the drift guard watches the operator, not
    the scaffolding (the r5 cdc_ddp_datasource_scan 1.69x flag was
    fixture-build variance: scan ~1.0 s stable, build 1.9-3.7 s noisy)."""
    from bensp_suite_spark import queries as Q
    from .conftest import SF_CORRECT

    Q.FIXTURE_BUILD_SECONDS.pop("source_orc_scan", None)
    Q.QUERIES["source_orc_scan"](spark, SF_CORRECT).collect()
    build = Q.FIXTURE_BUILD_SECONDS.pop("source_orc_scan", None)
    assert build is not None and build > 0
    # the accumulator helper adds across nested/enter-exit uses, for the
    # fixture timer and the cold-build timer alike
    for timer, into in (
        (Q._fixture_build, Q.FIXTURE_BUILD_SECONDS),
        (Q._cold_build, Q.COLD_BUILD_SECONDS),
    ):
        with timer("x"):
            pass
        first = into["x"]
        with timer("x"):
            pass
        assert into.pop("x") >= first >= 0


def test_assign_split_is_leak_free_and_drops_remainder(spark):
    from bensp_suite_spark.operators.sampling import assign_split

    rows = [(i, f"document body {i % 50}") for i in range(400)]  # 8x dup groups
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = assign_split(df, {"train": 0.6, "val": 0.2}).collect()
    # every byte-duplicate group lands wholly in ONE split
    by_text: dict[str, set] = {}
    for r in out:
        by_text.setdefault(r["text"], set()).add(r["split"])
    assert all(len(s) == 1 for s in by_text.values())
    # 20% of the band space is unassigned -> some groups dropped entirely
    assert 0 < len(by_text) < 50
    # layout independence
    again = assign_split(df.repartition(7), {"train": 0.6, "val": 0.2}).collect()
    assert {(r["doc_id"], r["split"]) for r in again} == {
        (r["doc_id"], r["split"]) for r in out
    }


def test_kmv_ignores_null_keys(spark):
    """NULL keys hash to NULL and must never occupy a sketch slot: the
    sketch over data-with-NULLs equals the sketch over the non-NULL rows
    (Spark would sort a surviving NULL FIRST asc, DuckDB LAST — dropping
    it is what keeps the oracle engine-exact)."""
    from bensp_suite_spark.operators import sketches as SK

    rows = [(i,) for i in range(100)] + [(None,)] * 5
    df = spark.createDataFrame(rows, "v long")
    clean = df.filter(F.col("v").isNotNull())
    k = 16
    row = SK.kmv_distinct(df, "v", k=k).collect()[0]
    want = SK.kmv_distinct(clean, "v", k=k).collect()[0]
    assert (row["n_hashes"], row["kth_min"], row["distinct_est"]) == (
        want["n_hashes"], want["kth_min"], want["distinct_est"])
    got = {r["h"] for r in SK.kmv_hashes(df, "v", k=k).collect()}
    assert None not in got and len(got) == k


def test_resample_to_mix_survives_reserved_column_names(spark):
    """An input df that already has stratum / keep_rate / n_offered columns
    must not collide with the internal rate-frame join-back."""
    rows = [(i, f"src{i % 2}", "user_stratum", 1.23, 7) for i in range(200)]
    df = spark.createDataFrame(
        rows, "doc_id long, source string, stratum string, keep_rate double, n_offered long"
    )
    out = SMP.resample_to_mix(df, {"src0": 1, "src1": 1}, "source")
    assert out.columns == df.columns
    got = out.collect()
    assert 0 < len(got) <= 200
    # the user's columns pass through untouched
    assert all(r["stratum"] == "user_stratum" and r["keep_rate"] == 1.23 for r in got)


def test_assign_split_vertical_tab_engine_exact(spark):
    """Texts containing \\x0B must hash identically in Spark and DuckDB —
    the explicit whitespace class closes the Java-\\s vs RE2-\\s gap."""
    import duckdb

    rows = [(1, "alpha\x0bbeta gamma"), (2, "alpha beta\tgamma"), (3, "plain text")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    fracs = {"train": 0.5, "val": 0.5}
    spark_split = {
        r["doc_id"]: r["split"] for r in SMP.assign_split(df, fracs).collect()
    }
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE t AS SELECT * FROM (VALUES "
        + ", ".join(f"({i}, '{t}')" for i, t in rows)
        + ") v(doc_id, text)"
    )
    duck_split = dict(
        con.execute(
            f"SELECT doc_id, {SMP.assign_split_sql(fracs)} AS split FROM t"
        ).fetchall()
    )
    assert spark_split == {k: v for k, v in duck_split.items() if v is not None}
    assert 1 in spark_split  # the \x0B row is assigned, identically, on both


def test_flac_escape_raw_bits_guard():
    """raw_bits beyond the 5-bit wire field must raise, not silently wrap
    to 0 in the masking _BitWriter and emit a corrupt stream."""
    import numpy as np

    from bensp_suite_spark.multimodal.flac import FlacFormatError, _best_rice_param

    # folded residuals with bit_length 32 → raw_bits = 33 > 31
    z = np.array([1 << 32] * 4, dtype=np.uint64)
    with pytest.raises(FlacFormatError, match="raw_bits"):
        _best_rice_param(z, max_param=14)


@pytest.mark.slow
def test_advance_signatures_appends_not_rederives(spark):
    """Day-N signature maintenance is a pure survivor-append: the advanced
    tables equal a full re-derivation over history ∪ survivors (set-
    exactly), and their sizes grow by exactly the survivors' contribution
    — O(new docs/day), never O(history)."""
    from bensp_suite_spark.operators.dedup_text import (
        advance_signatures,
        history_signatures,
        incremental_dedup,
    )

    hist = spark.createDataFrame(
        [(i, f"historic document number {i} with several words") for i in range(80)],
        "doc_id long, text string",
    )
    batch = spark.createDataFrame(
        [(200, "historic document number 7 with several words"),   # exact dup
         (201, "a brand new unrelated document about gardens"),
         (202, "another brand new document concerning oceans"),
         (203, "a brand new unrelated document about gardens")],   # intra-batch dup
        "doc_id long, text string",
    )
    sig = history_signatures(hist)
    flags = incremental_dedup(batch, history_sig=sig)
    surv = batch.join(
        flags.filter(F.col("is_kept")).select("doc_id"), "doc_id", "left_semi"
    )
    n_surv = surv.count()
    assert n_surv == 3  # the exact dup dropped; both intra-batch copies kept
    adv_h, adv_s = advance_signatures(sig, surv)
    # size: hashes grow by the survivors' DISTINCT new hashes (2: the
    # intra-batch copies share one), fingerprints by one per survivor
    assert adv_h.count() == sig[0].count() + 2
    assert adv_s.count() == sig[1].count() + n_surv
    # parity: append == full re-derivation over history ∪ survivors
    full_h, full_s = history_signatures(hist.unionByName(surv))
    assert {r[0] for r in adv_h.collect()} == {r[0] for r in full_h.collect()}
    adv_fp = sorted(r[0] for r in adv_s.collect())
    full_fp = sorted(r[0] for r in full_s.collect())
    assert adv_fp == full_fp


@pytest.mark.slow
def test_daily_loop_accumulates_across_days(spark):
    """Three daily_step iterations: a day-3 copy of a day-1 survivor AND
    of a day-2 survivor must both flag exact_dup — possible only if every
    append reached the signature state."""
    from bensp_suite_spark.operators.dedup_text import history_signatures
    from bensp_suite_spark.pipelines.daily import daily_step, run_daily_increments

    hist = spark.createDataFrame(
        [(i, f"seed corpus document {i} alpha beta gamma") for i in range(40)],
        "doc_id long, text string",
    )
    sig = history_signatures(hist)
    d1 = spark.createDataFrame(
        [(100, "day one fresh document about rivers and stones")],
        "doc_id long, text string",
    )
    _, surv1, sig = daily_step(sig, d1, day=1)
    d2 = spark.createDataFrame(
        [(200, "day two fresh document regarding mountains and snow")],
        "doc_id long, text string",
    )
    _, surv2, sig = daily_step(sig, d2, day=2)
    d3 = spark.createDataFrame(
        [(300, "day one fresh document about rivers and stones"),      # = d1 surv
         (301, "day two fresh document regarding mountains and snow"),  # = d2 surv
         (302, "day three genuinely novel document on deserts")],
        "doc_id long, text string",
    )
    flags3, surv3, _ = daily_step(sig, d3, day=3, advance=False)
    got = {r["doc_id"]: (r["exact_dup"], r["is_kept"]) for r in flags3.collect()}
    assert got[300] == (True, False)
    assert got[301] == (True, False)
    assert got[302][1] is True
    # the generator form walks the same steps
    sig0 = history_signatures(hist)
    outs = list(run_daily_increments(sig0, [d1, d2, d3]))
    gen_flags3 = {r["doc_id"]: (r["exact_dup"], r["is_kept"])
                  for r in outs[2][0].collect()}
    assert gen_flags3 == got


def test_incremental_dedup_history_sig_parity(spark):
    """incremental_dedup(new, history) == incremental_dedup(new,
    history_sig=history_signatures(history)) — the pre-fingerprinted
    daily path must be flag-identical to the inline path."""
    from bensp_suite_spark.operators.dedup_text import (
        history_signatures,
        incremental_dedup,
    )

    hist = spark.createDataFrame(
        [(i, f"historic doc number {i}") for i in range(50)],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [(100, "historic doc number 7"),        # exact dup
         (101, "historic doc number"),           # near dup (one word off)
         (102, "an entirely unrelated new doc")],
        "doc_id long, text string",
    )
    inline = {tuple(r) for r in incremental_dedup(new, hist).collect()}
    sig = history_signatures(hist)
    pre = {tuple(r) for r in incremental_dedup(new, history_sig=sig).collect()}
    assert inline == pre
    assert any(r[2] for r in inline)  # the exact dup flagged


def test_incremental_dedup_shared_signature_parity(spark):
    """The r11 shared-signature path — precomputed batch_signatures +
    matched_history_pairs passed via new_sig=/near_pairs= (the
    streaming/daily sinks' one-SimHash-per-batch shape) — must be
    flag-identical to the self-contained path, and the pair frame's
    hist_sim projection must equal matched_history_sims (the retention
    re-sighting signal it replaces)."""
    from bensp_suite_spark.operators.dedup_text import (
        batch_signatures,
        history_signatures,
        incremental_dedup,
        matched_history_pairs,
        matched_history_sims,
    )

    hist = spark.createDataFrame(
        [(i, f"historic doc number {i}") for i in range(50)],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [(100, "historic doc number 7"),        # exact dup
         (101, "historic doc number"),           # near dup (one word off)
         (102, "an entirely unrelated new doc")],
        "doc_id long, text string",
    )
    sig = history_signatures(hist)
    plain = {tuple(r) for r in incremental_dedup(new, history_sig=sig).collect()}
    new_h, new_s = batch_signatures(new)
    pairs = matched_history_pairs(new_s, sig[1])
    shared = {
        tuple(r)
        for r in incremental_dedup(
            new, history_sig=sig, new_sig=(new_h, new_s), near_pairs=pairs
        ).collect()
    }
    assert plain == shared
    assert any(r[2] for r in plain)  # the exact dup flagged
    # the re-sighting projection: pairs → distinct hist_sim must equal
    # the standalone matched_history_sims over the same inputs
    via_pairs = {
        r["hist_sim"] for r in pairs.select("hist_sim").distinct().collect()
    }
    standalone = {
        r["hist_sim"] for r in matched_history_sims(new, sig[1]).collect()
    }
    assert via_pairs == standalone and via_pairs  # non-empty: near match exists


def test_canonical_url_fragment_query_not_resurrected(spark):
    """A '?' INSIDE the fragment must not be resurrected as a query string
    (ADVICE r6): https://x.com/p#sec?b=1 canonicalizes identically to
    https://x.com/p — and the DuckDB mirror agrees, so the fix is
    cross-engine, not just one-sided."""
    import duckdb

    from bensp_suite_spark.operators import urls as U

    cases = [
        "https://x.example.com/p#sec?b=1",   # '?' only inside the fragment
        "https://x.example.com/p",
        "https://x.example.com/p?a=1#sec?b=2",  # real query AND ?-in-fragment
        "https://x.example.com/p?a=1",
    ]
    df = spark.createDataFrame(list(enumerate(cases)), "doc_id long, url string")
    got = {
        r["doc_id"]: r["c"]
        for r in df.select("doc_id", U.canonical_url(F.col("url")).alias("c")).collect()
    }
    assert got[0] == got[1] == "https://x.example.com/p"
    assert got[2] == got[3] == "https://x.example.com/p?a=1"
    con = duckdb.connect()
    con.execute("CREATE TABLE t(doc_id BIGINT, url VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?, ?)", list(enumerate(cases)))
    want = dict(
        con.execute(f"SELECT doc_id, {U.canonical_url_sql('url')} FROM t").fetchall()
    )
    assert got == want


def test_cap_two_phase_equals_single_window_on_hot_host(spark):
    """The two-phase salted domain cap (_cap_host_rows) is result-IDENTICAL
    to the plain single host window — including on a skewed input where
    one host owns ~95% of the rows (the regime the two-phase shape exists
    for: phase 1 spreads the hot host over salt_n tasks)."""
    from pyspark.sql import Window

    from bensp_suite_spark.operators import urls as U
    from bensp_suite_spark.operators.sampling import hash_bucket

    rows = [
        (i, "hot.example.com" if i % 20 < 19 else f"cold{i % 7}.example.com")
        for i in range(20000)
    ]
    df = spark.createDataFrame(rows, "doc_id long, host string")
    got = {
        tuple(r)
        for r in U._cap_host_rows(df, 10, "doc_id").select("doc_id", "host").collect()
    }
    w = Window.partitionBy("host").orderBy(hash_bucket(F.col("doc_id")), F.col("doc_id"))
    want = {
        tuple(r)
        for r in df.withColumn("__r", F.row_number().over(w))
        .filter(F.col("__r") <= 10)
        .select("doc_id", "host")
        .collect()
    }
    assert got == want
    assert len({h for _, h in got if h == "hot.example.com"}) == 1
    assert sum(1 for _, h in got if h == "hot.example.com") == 10


def test_first_wins_equals_window_and_handles_hot_key(spark):
    """first_wins (min-reduce + join-back) keeps exactly the lowest-id row
    per key — identical to the row_number window form — on an input where
    one key owns almost everything."""
    from pyspark.sql import Window

    from bensp_suite_spark.operators.urls import first_wins

    rows = [(i, "hot" if i % 10 else f"k{i}") for i in range(5000)]
    df = spark.createDataFrame(rows, "doc_id long, key string")
    got = {tuple(r) for r in first_wins(df, "key").collect()}
    w = Window.partitionBy("key").orderBy("doc_id")
    want = {
        tuple(r)
        for r in df.withColumn("__r", F.row_number().over(w))
        .filter("__r = 1")
        .drop("__r")
        .collect()
    }
    assert got == want
    # expression keys work too (the web pipeline's content-hash stage)
    got_expr = {tuple(r) for r in first_wins(df, F.upper(F.col("key"))).collect()}
    assert got_expr == want
    # NULL keys form ONE group (lowest-id NULL row survives) — matching
    # the row_number window this replaces; a plain equi-join-back would
    # silently DROP them (NULL != NULL), the r7 ADVICE finding
    nrows = [(1, "a"), (2, None), (3, None), (4, "b"), (5, None)]
    ndf = spark.createDataFrame(nrows, "doc_id long, key string")
    got_null = {tuple(r) for r in first_wins(ndf, "key").collect()}
    assert got_null == {(1, "a"), (2, None), (4, "b")}


def test_bloom_merge_packed_or_equals_pack_of_union(spark):
    """bloom_merge_packed (bitwise OR) == bloom_pack of the unioned bit
    tables — the mergeable-sketch property in packed form — and OR is
    idempotent (replaying an advance changes nothing)."""
    from bensp_suite_spark.operators import sketches as SK

    m, k = 1 << 12, 4
    a = spark.createDataFrame([(f"a{i}",) for i in range(100)], "v string")
    b = spark.createDataFrame([(f"b{i}",) for i in range(100)], "v string")
    pa = SK.bloom_pack(SK.bloom_bits(a, "v", m=m, k=k), m)
    pb = SK.bloom_pack(SK.bloom_bits(b, "v", m=m, k=k), m)
    merged = SK.bloom_merge_packed(pa, pb)
    direct = SK.bloom_pack(SK.bloom_bits(a.union(b), "v", m=m, k=k), m)
    assert merged == direct
    assert SK.bloom_merge_packed(merged, pb) == merged  # idempotent


@pytest.mark.slow
def test_incremental_dedup_bloom_prefilter_flag_parity(spark):
    """incremental_dedup with the packed-bloom prefilter is flag-IDENTICAL
    to the plain path (zero false negatives by construction), and an
    over-full bloom (all bits set — the worst stale-state case) is also
    identical: false positives only send extra rows into the exact join,
    which resolves them."""
    from bensp_suite_spark.operators.dedup_text import (
        history_band_bloom,
        history_bloom,
        history_signatures,
        incremental_dedup,
    )

    hist = spark.createDataFrame(
        [(i, f"historic doc number {i} words words") for i in range(60)],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [(100, "historic doc number 7 words words"),   # exact dup
         (101, "historic doc number 7 words"),          # near dup
         (102, "an entirely unrelated new doc"),
         (103, "another unrelated fresh doc")],
        "doc_id long, text string",
    )
    sig = history_signatures(hist)
    plain = {tuple(r) for r in incremental_dedup(new, history_sig=sig).collect()}
    m, k = 1 << 12, 4
    packed = history_bloom(sig[0], m=m, k=k)
    band_packed = history_band_bloom(sig[1], max_hamming=3, m=m, k=k)
    # gate forced off (0): at 60 history docs the size gate would skip
    # the probe, and this test exists to prove the PROBE path's parity
    bloomed = {
        tuple(r)
        for r in incremental_dedup(
            new, history_sig=sig, history_bloom_packed=packed,
            history_band_bloom_packed=band_packed, bloom_m=m, bloom_k=k,
            bloom_gate_min_history=0,
        ).collect()
    }
    assert bloomed == plain
    allset = b"\xff" * (m // 8)
    worst = {
        tuple(r)
        for r in incremental_dedup(
            new, history_sig=sig, history_bloom_packed=allset,
            history_band_bloom_packed=allset, bloom_m=m, bloom_k=k,
            bloom_gate_min_history=0,
        ).collect()
    }
    assert worst == plain
    assert any(r[2] for r in plain) and any(r[3] for r in plain)
    # the DEFAULT gate: a toy-history bloom estimates far below 250k, so
    # the probe self-disables (flags identical — same rows again)
    gated = {
        tuple(r)
        for r in incremental_dedup(
            new, history_sig=sig, history_bloom_packed=packed,
            history_band_bloom_packed=band_packed, bloom_m=m, bloom_k=k,
        ).collect()
    }
    assert gated == plain


def test_bloom_cardinality_estimate_and_gate(spark):
    """bloom_cardinality_packed inverts the fill ratio to ~the true
    insert count (within 15% at moderate fill), saturated bitsets
    estimate +inf (the stale-state worst case must NOT be gated off),
    and the BLOOM_GATE_MIN_HISTORY constant sits where the exact join
    stops being broadcastable."""
    from bensp_suite_spark.operators import sketches as SK
    from bensp_suite_spark.operators.dedup_text import BLOOM_GATE_MIN_HISTORY

    m, k = 1 << 16, 4
    for n in (100, 2000):
        df = spark.createDataFrame([(f"v{i}",) for i in range(n)], "v string")
        packed = SK.bloom_pack(SK.bloom_bits(df, "v", m=m, k=k), m)
        est = SK.bloom_cardinality_packed(packed, m, k)
        assert abs(est - n) / n < 0.15, (n, est)
        assert est < BLOOM_GATE_MIN_HISTORY
    assert SK.bloom_cardinality_packed(b"\xff" * (m // 8), m, k) == float("inf")
    assert SK.bloom_cardinality_packed(b"\x00" * (m // 8), m, k) == 0.0
    # the gate ≈ broadcast-join threshold in 32-byte-hash rows (10 MB)
    assert 100_000 <= BLOOM_GATE_MIN_HISTORY <= 1_000_000


def test_semantic_dedup_auto_sizing(spark):
    """semantic_dedup(n_cells=None) sizes cells from the corpus via
    ivf_defaults (√N rule — the dedup_semantic oracle pins 32 for the
    1000-row sf0.01 augmented corpus) and equals the explicit call."""
    from bensp_suite_spark.operators import similarity as SIM

    assert SIM.ivf_defaults(1000)[0] == 32  # the dedup_semantic oracle pin
    emb = spark.range(200).select(
        F.col("id").alias("vec_id"),
        F.array(
            (F.col("id") % 17).cast("double"),
            (F.col("id") % 5).cast("double"),
            F.lit(1.0),
        ).alias("embedding"),
    )
    auto = {tuple(r) for r in SIM.semantic_dedup(emb, n_cells=None).collect()}
    explicit = {
        tuple(r)
        for r in SIM.semantic_dedup(emb, n_cells=SIM.ivf_defaults(200)[0]).collect()
    }
    assert auto == explicit
    assert {r[1] for r in auto} <= set(range(SIM.ivf_defaults(200)[0]))


def test_canonical_url_idempotent_and_cross_engine_on_generated_noise(spark):
    """canonical_url is a CANONICALIZATION: applying it twice equals
    applying it once (idempotence — the property that makes stored
    canonical URLs safe to re-pass through the pipeline), and the DuckDB
    mirror agrees on every generated combination of the six rule axes
    (scheme case, www., ports, path slashes, param order/tracking/empty,
    fragments — including '?' inside the fragment)."""
    import itertools

    import duckdb

    from bensp_suite_spark.operators import urls as U

    schemes = ["https", "HTTPS", "http", "ftp"]
    hosts = ["Example.com", "www.Example.com", "a.b.example.org"]
    ports = ["", ":443", ":80", ":8080"]
    paths = ["", "/", "/Docs/7", "/Docs/7/", "//x//", "/p"]
    queries = ["", "?b=2&a=1", "?utm_source=f&z=1", "?a=&b=1", "?ref=h"]
    frags = ["", "#sec", "#sec?q=1", "#a&b"]
    urls = [
        f"{s}://{h}{po}{pa}{q}{f}"
        for s, h, po, pa, q, f in itertools.product(
            schemes, hosts, ports, paths, queries, frags
        )
    ]
    df = spark.createDataFrame(list(enumerate(urls)), "i long, url string")
    rows = df.select(
        "i",
        U.canonical_url(F.col("url")).alias("c1"),
        U.canonical_url(U.canonical_url(F.col("url"))).alias("c2"),
    ).collect()
    bad = [(r["c1"], r["c2"]) for r in rows if r["c1"] != r["c2"]]
    assert not bad, f"not idempotent on {len(bad)} urls, e.g. {bad[:3]}"
    got = {r["i"]: r["c1"] for r in rows}
    con = duckdb.connect()
    con.execute("CREATE TABLE t(i BIGINT, url VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?, ?)", list(enumerate(urls)))
    want = dict(
        con.execute(f"SELECT i, {U.canonical_url_sql('url')} FROM t").fetchall()
    )
    assert got == want
