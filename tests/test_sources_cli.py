"""Sources (binaryFile, byte-exact .ddp) and the dedup CLI round trip."""

from __future__ import annotations

import glob
import io
import os
import shutil
import struct
import subprocess
import sys
import tempfile

import numpy as np
import pytest

from bensp_suite_spark.dedup import fixtures, pipeline
from bensp_suite_spark.sources import binaryfiles, ddp as ddpfmt

# CLI end-to-end lanes spawn subprocess Spark sessions (builder tier)
pytestmark = pytest.mark.slow


@pytest.fixture()
def tmpdir():
    d = tempfile.mkdtemp(prefix="bensp_src_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _write_input_files(tmpdir, n=5, size=20000, seed=3):
    src = os.path.join(tmpdir, "in")
    os.makedirs(src)
    rng = np.random.default_rng(seed)
    pool = [rng.integers(0, 256, 4096, dtype=np.uint8).tobytes() for _ in range(6)]
    datas = {}
    for i in range(n):
        parts = [pool[int(rng.integers(0, 6))] for _ in range(size // 4096 + 1)]
        data = b"".join(parts)[:size]
        name = f"file_{i}.bin"
        with open(os.path.join(src, name), "wb") as fh:
            fh.write(data)
        datas[name] = data
    # dotfile must be skipped (P1)
    with open(os.path.join(src, ".hidden"), "wb") as fh:
        fh.write(b"nope")
    return src, datas


def test_binaryfile_source_reads_files_and_skips_dotfiles(spark, tmpdir):
    src, datas = _write_input_files(tmpdir)
    df = binaryfiles.read_files(spark, src)
    rows = {r.file_name: bytes(r.content) for r in df.collect()}
    assert rows == datas  # .hidden excluded


def test_ddp_serialization_round_trip(spark, tmpdir):
    files = fixtures.synthetic_docs(spark, n_files=6, file_bytes=16384, seed=5)
    ddp_df = pipeline.encode(files, compress_type="gzip")
    blob = ddpfmt.serialize_ddp(ddp_df, compress_type="gzip")
    # header layout parity (util.c:65-74)
    assert struct.unpack_from("<i", blob, 0)[0] == ddpfmt.CHECKBIT
    assert struct.unpack_from("<B", blob, 4)[0] == ddpfmt.COMPRESS_GZIP

    ctype, records = ddpfmt.parse_ddp(spark, blob)
    assert ctype == "gzip"
    n_records = records.count()
    assert n_records == ddp_df.count()
    # fingerprints carry 20-byte digests; payload records carry bytes
    fp = records.filter(f"rtype = {ddpfmt.TYPE_FINGERPRINT}").collect()
    assert all(len(bytes.fromhex(r.sha1)) == 20 for r in fp)


def test_parse_rejects_bad_magic(spark):
    with pytest.raises(ValueError, match="CHECKBIT"):
        ddpfmt.parse_ddp(spark, struct.pack("<iB", 999, 0))


def test_cli_encode_decode_round_trip(tmpdir):
    src, datas = _write_input_files(tmpdir, n=4, size=30000)
    archive = os.path.join(tmpdir, "out.ddp")
    outdir = os.path.join(tmpdir, "decoded")
    env = dict(os.environ, SPARK_GRAFT_CPUS="4")
    r1 = subprocess.run(
        [sys.executable, "-m", "bensp_suite_spark.cli", "-c", "-i", src, "-o", archive, "-v"],
        capture_output=True, text=True, env=env, cwd=os.path.dirname(os.path.dirname(__file__)),
    )
    assert r1.returncode == 0, r1.stderr[-2000:]
    assert os.path.exists(archive)

    r2 = subprocess.run(
        [sys.executable, "-m", "bensp_suite_spark.cli", "-u", "-i", archive, "-o", outdir, "-v"],
        capture_output=True, text=True, env=env, cwd=os.path.dirname(os.path.dirname(__file__)),
    )
    assert r2.returncode == 0, r2.stderr[-2000:]
    # decode order: concatenation of decoded outputs == concatenation of
    # inputs in file_id (listing) order
    decoded = b"".join(
        open(os.path.join(outdir, f), "rb").read() for f in sorted(os.listdir(outdir))
    )
    original = b"".join(datas[k] for k in sorted(datas))
    assert decoded == original


def test_cli_stats(tmpdir):
    src, _ = _write_input_files(tmpdir, n=4, size=30000)
    env = dict(os.environ, SPARK_GRAFT_CPUS="4")
    r = subprocess.run(
        [sys.executable, "-m", "bensp_suite_spark.cli", "--stats", "-i", src],
        capture_output=True, text=True, env=env, cwd=os.path.dirname(os.path.dirname(__file__)),
    )
    assert r.returncode == 0, r.stderr[-2000:]
    assert "Total chunks:" in r.stdout and "Duplicate chunks:" in r.stdout


def test_cli_missing_input(tmpdir):
    env = dict(os.environ, SPARK_GRAFT_CPUS="2")
    r = subprocess.run(
        [sys.executable, "-m", "bensp_suite_spark.cli", "-c", "-i", "/nonexistent", "-o", "/tmp/x.ddp"],
        capture_output=True, text=True, env=env, cwd=os.path.dirname(os.path.dirname(__file__)),
    )
    assert r.returncode == 2
    assert "not found" in r.stderr


def test_tar_ingestion_and_dedup(spark, tmpdir):
    """S2 TAR parity: members become per-file rows; per-file-scoped dedup
    (J2) finds fewer dups than global (cross-member blocks dedupe globally)."""
    import io
    import tarfile

    rng = np.random.default_rng(6)
    block = rng.integers(0, 256, 8192, dtype=np.uint8).tobytes()
    buf = io.BytesIO()
    with tarfile.open(fileobj=buf, mode="w") as tf:
        for name, payload in [
            ("a.bin", block * 3),
            ("sub/b.bin", block * 2 + b"x" * 100),
            (".hidden", b"skip me"),
        ]:
            info = tarfile.TarInfo(name)
            info.size = len(payload)
            tf.addfile(info, io.BytesIO(payload))
    tar_path = os.path.join(tmpdir, "input.tar")
    with open(tar_path, "wb") as fh:
        fh.write(buf.getvalue())

    members = binaryfiles.read_tar_members(spark, tmpdir)
    rows = {r.file_name: bytes(r.content) for r in members.collect()}
    assert set(rows) == {"a.bin", "sub/b.bin"}  # dotfile skipped
    assert rows["a.bin"] == block * 3

    g = pipeline.dedup_stats(members.select("file_id", "content")).collect()[0]
    p = pipeline.dedup_stats(
        members.select("file_id", "content"), scope_per_file=True
    ).collect()[0]
    assert g.n_dup >= p.n_dup  # global domain ⊇ per-file domain
    assert g.n_dup > 0  # the shared block dedupes across members


def test_zip_ingestion_matches_tar_semantics(spark, tmpdir):
    """read_zip_members: same schema/filters as the TAR source — dotfile
    and directory members dropped, member bytes exact (DEFLATE round-
    trips), per-file ids stable — and a malformed archive raises a typed
    ValueError naming the file."""
    import io
    import zipfile

    import pytest

    # seed 6 = the TAR test's block: known to contain chunker boundaries
    # (whether an 8 KB random block splits is content-dependent)
    rng = np.random.default_rng(6)
    block = rng.integers(0, 256, 8192, dtype=np.uint8).tobytes()
    zip_path = os.path.join(tmpdir, "input.zip")
    with zipfile.ZipFile(zip_path, "w", zipfile.ZIP_DEFLATED) as zf:
        zf.writestr("a.bin", block * 3)
        zf.writestr("sub/b.bin", block * 2 + b"x" * 100)
        zf.writestr(".hidden", b"skip me")
        zf.writestr("sub/", b"")  # explicit directory entry

    members = binaryfiles.read_zip_members(spark, tmpdir)
    rows = {r.file_name: bytes(r.content) for r in members.collect()}
    assert set(rows) == {"a.bin", "sub/b.bin"}  # dotfile + dir skipped
    assert rows["a.bin"] == block * 3 and rows["sub/b.bin"][:8192] == block
    ids = {r.file_name: r.file_id for r in members.collect()}
    again = {r.file_name: r.file_id for r in
             binaryfiles.read_zip_members(spark, tmpdir).collect()}
    assert ids == again  # content-path-keyed ids are stable

    g = pipeline.dedup_stats(members.select("file_id", "content")).collect()[0]
    assert g.n_dup > 0  # the shared block dedupes across members

    bad_dir = os.path.join(tmpdir, "bad")
    os.makedirs(bad_dir)
    with open(os.path.join(bad_dir, "junk.zip"), "wb") as fh:
        fh.write(b"PK\x03\x04" + b"\x00" * 64)  # magic but garbage
    with pytest.raises(Exception, match="malformed zip|BadZipFile"):
        binaryfiles.read_zip_members(spark, bad_dir).collect()


def test_warc_ingestion_records_and_pages(spark, tmpdir):
    """WARC source: record iteration over plain AND per-record-gzipped
    archives, within-file record indexes over ALL record types, HTTP
    envelope parsing on response records (status/content-type/body),
    read_warc_pages' 2xx-html filter, and typed errors on malformed
    framing — the S2 archive-member shape for the crawl container."""
    import pytest

    from bensp_suite_spark.sources import warc as W

    html = b"<html><body>Hello crawl</body></html>"
    recs = [
        ("warcinfo", None, b"software: test\r\n"),
        ("request", "https://ex.com/a", b"GET /a HTTP/1.1\r\n\r\n"),
        ("response", "https://ex.com/a", W.build_http_response(html)),
        (
            "response",
            "https://ex.com/gone",
            W.build_http_response(b"nope", status=404),
        ),
        (
            "response",
            "https://ex.com/d.json",
            W.build_http_response(b"{}", content_type="application/json"),
        ),
    ]
    with open(os.path.join(tmpdir, "x.warc"), "wb") as fh:
        fh.write(W.build_warc_bytes(recs))
    with open(os.path.join(tmpdir, "y.warc.gz"), "wb") as fh:
        fh.write(
            W.build_warc_bytes(
                [("response", "https://ex.org/b", W.build_http_response(html))],
                gzip_records=True,
            )
        )
    rows = W.read_warc_records(spark, str(tmpdir)).collect()
    by_key = {(r.warc_name, r.record_idx): r for r in rows}
    assert len(rows) == 6
    assert by_key[("x.warc", 0)].record_type == "warcinfo"
    assert by_key[("x.warc", 0)].http_status is None
    r2 = by_key[("x.warc", 2)]
    assert (r2.record_type, r2.http_status, r2.content_type) == (
        "response", 200, "text/html",
    )
    assert bytes(r2.payload) == html
    assert by_key[("x.warc", 3)].http_status == 404
    assert bytes(by_key[("y.warc.gz", 0)].payload) == html  # gz round-trip
    # pages: only 2xx text/html responses survive, html decoded
    pages = W.read_warc_pages(spark, str(tmpdir)).collect()
    assert {(p.warc_name, p.record_idx, p.url) for p in pages} == {
        ("x.warc", 2, "https://ex.com/a"),
        ("y.warc.gz", 0, "https://ex.org/b"),
    }
    assert all(p.html == html.decode() for p in pages)
    # malformed framing raises with the file named
    bad = os.path.join(tmpdir, "bad")
    os.makedirs(bad)
    with open(os.path.join(bad, "junk.warc"), "wb") as fh:
        fh.write(b"NOT-A-WARC\r\n\r\n")
    with pytest.raises(Exception, match="bad WARC version"):
        W.read_warc_records(spark, bad).collect()
    # truncated body (Content-Length past EOF) raises too
    trunc = W.build_warc_bytes([("response", "https://ex.com/t",
                                 W.build_http_response(html))])[:-20]
    with open(os.path.join(bad, "junk.warc"), "wb") as fh:
        fh.write(trunc)
    with pytest.raises(Exception, match="exceeds file"):
        W.read_warc_records(spark, bad).collect()


def test_dedup_sweep_harness(spark):
    """testbed-t1 analog: the sweep grid runs and produces sane metrics."""
    from bensp_suite_spark.bench.sweeps import SweepConfig, run_dedup_sweep, summarize

    cfg = SweepConfig(
        shuffle_partitions=[4, 8],
        compress_types=["gzip", "none"],
        repetitions=2,
        n_files=8,
        file_bytes=65536,
    )
    metrics = run_dedup_sweep(spark, cfg)
    rows = metrics.collect()
    assert len(rows) == 2 * 2 * 2  # grid × reps
    assert all(r.throughput_mbps > 0 for r in rows)
    assert {r.input_class for r in rows} == {"pool"}
    # identical inputs → identical chunk counts across configs
    assert len({r.n_chunks for r in rows}) == 1
    summary = summarize(metrics).collect()
    assert len(summary) == 4


def test_dedup_sweep_input_class_axis_controls_duplication(spark):
    """The duplication-ratio axis (bin/parsec_stream:30-39's l/h/t/f size
    classes x create_txt_files.c:37-41's line schemes): fully-fixed
    content classes (abc, fff) must measure near-total duplicate-chunk
    ratios, fully-random near zero, and the fixed-run+random-tail
    classes in between must stay low-dup (every 4 KB chunk carries
    random tails) — the measured dup_ratio column IS the evidence the
    paper's parameterization study keys on."""
    from bensp_suite_spark.bench.sweeps import SweepConfig, run_dedup_sweep

    cfg = SweepConfig(
        shuffle_partitions=[4],
        compress_types=["none"],
        repetitions=1,
        input_classes=["l1:rand", "l1:abc", "l1:fff", "l1:ffr"],
    )
    rows = {r.input_class: r for r in run_dedup_sweep(spark, cfg).collect()}
    assert set(rows) == {"l1:rand", "l1:abc", "l1:fff", "l1:ffr"}
    # constant content never triggers a rolling-hash boundary, so each
    # file is ONE max-size chunk and every file after the first is a
    # whole-file duplicate: dup_ratio = (n_files-1)/n_files = 7/8
    assert rows["l1:abc"].dup_ratio > 0.85
    assert rows["l1:fff"].dup_ratio > 0.85
    assert rows["l1:rand"].dup_ratio < 0.1
    assert rows["l1:ffr"].dup_ratio < rows["l1:abc"].dup_ratio
    # size classes scale the input: h-class bytes > t-class bytes
    from bensp_suite_spark.dedup.fixtures import INPUT_SIZE_CLASSES

    assert (
        INPUT_SIZE_CLASSES["h1"][0] * INPUT_SIZE_CLASSES["h1"][1]
        > INPUT_SIZE_CLASSES["t"][0] * INPUT_SIZE_CLASSES["t"][1]
    )


def test_sweep_cli_emits_dat_files(spark, tmpdir):
    """The sweep CLI (bin/parsec_stream's sweep-and-emit loop,
    testbed/t1/throughput.sh) e2e as a subprocess: one grid run must
    write throughput.dat + execution_time.dat in the gnuplot shape (one
    line per config × rep, value column last) plus the tidy parquet
    metrics table, and the .dat values must agree with the table."""
    out = os.path.join(tmpdir, "sweep_out")
    env = dict(os.environ, SPARK_GRAFT_CPUS="4")
    cwd = os.path.dirname(os.path.dirname(__file__))
    r = subprocess.run(
        [sys.executable, "-m", "bensp_suite_spark.bench.sweeps", out,
         "--threads", "4", "--compress", "gzip,none", "--reps", "1",
         "--n-files", "4", "--file-bytes", "65536", "-v"],
        capture_output=True, text=True, env=env, cwd=cwd,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    tp = os.path.join(out, "throughput.dat")
    et = os.path.join(out, "execution_time.dat")
    assert os.path.exists(tp) and os.path.exists(et)
    tp_lines = [l.split() for l in open(tp) if not l.startswith("#")]
    et_lines = [l.split() for l in open(et) if not l.startswith("#")]
    assert len(tp_lines) == len(et_lines) == 2  # 1 thread × 2 compress × 1 rep
    metrics = {
        (r2["input_class"], r2["shuffle_partitions"], r2["compress_type"],
         r2["arrow_batch"], r2["rep"]):
        (r2["throughput_mbps"], r2["wall_sec"])
        for r2 in spark.read.parquet(os.path.join(out, "metrics")).collect()
    }
    for icls, parts, ctype, batch, rep, mbps in tp_lines:
        key = (icls, int(parts), ctype, int(batch), int(rep))
        assert key in metrics
        assert float(mbps) == metrics[key][0]
    for icls, parts, ctype, batch, rep, sec in et_lines:
        assert float(sec) == metrics[(icls, int(parts), ctype, int(batch), int(rep))][1]


def test_ddp_incremental_parser_bounded_reads(spark, tmpdir):
    """The archive parser must consume its file object record-at-a-time —
    never a whole-archive read() — so a multi-GB archive decodes in
    O(record) executor memory (decoder.c:60-98 reads the same way). The
    guard wrapper rejects argument-less reads and records the largest
    single read, which must be bounded by the largest record payload."""
    files = fixtures.synthetic_docs(spark, n_files=4, file_bytes=65536, seed=11)
    ddp_df = pipeline.encode(files, compress_type="gzip")
    blob = ddpfmt.serialize_ddp(ddp_df, compress_type="gzip")

    class GuardedReader:
        def __init__(self, raw: bytes):
            self._buf = io.BytesIO(raw)
            self.max_read = 0

        def read(self, n=None):
            assert n is not None and n >= 0, "whole-stream read() is forbidden"
            self.max_read = max(self.max_read, n)
            return self._buf.read(n)

    guarded = GuardedReader(blob)
    it = ddpfmt.iter_ddp_records_from(guarded)
    header = next(it)
    stream_rows = list(it)
    assert header == ("__header__", "gzip")
    # parity with the in-memory parser
    it2 = ddpfmt.iter_ddp_records(blob)
    next(it2)
    assert stream_rows == list(it2)
    assert len(stream_rows) > 0
    largest_payload = max(
        len(p) if p is not None else ddpfmt.SHA1_LEN for _s, _t, _h, p in stream_rows
    )
    # every read is a record header (9 B), the 5-byte archive header, or
    # one payload — never the archive size
    assert guarded.max_read <= max(largest_payload, 9)
    assert guarded.max_read < len(blob)


def test_ddp_datasource_reads_archives_in_parallel(spark, tmpdir):
    """spark.read.format('ddp') — one partition per archive, records and
    header metadata identical to the driver-side parser."""
    from bensp_suite_spark.sources.ddp_datasource import register_ddp_source

    arch_dir = os.path.join(tmpdir, "archives")
    os.makedirs(arch_dir)
    blobs = {}
    for i, ct in enumerate(["gzip", "none"]):
        files = fixtures.synthetic_docs(spark, n_files=3, file_bytes=8192, seed=10 + i)
        ddp_df = pipeline.encode(files, compress_type=ct)
        blob = ddpfmt.serialize_ddp(ddp_df, compress_type=ct)
        p = os.path.join(arch_dir, f"a{i}.ddp")
        with open(p, "wb") as fh:
            fh.write(blob)
        blobs[p] = (ct, blob)
    # a dotfile must be skipped, as in the reference's directory scan (P1)
    with open(os.path.join(arch_dir, ".hidden"), "wb") as fh:
        fh.write(b"junk")

    register_ddp_source(spark)
    df = spark.read.format("ddp").load(arch_dir)
    assert df.rdd.getNumPartitions() == 2  # one per archive
    got = df.collect()
    assert {r.path for r in got} == set(blobs)
    for path, (ct, blob) in blobs.items():
        want_ct, want = ddpfmt.parse_ddp(spark, blob)
        assert want_ct == ct
        sub = sorted(
            ((r.seq, r.rtype, r.sha1, None if r.payload is None else bytes(r.payload))
             for r in got if r.path == path)
        )
        exp = sorted(
            (r.seq, r.rtype, r.sha1, None if r.payload is None else bytes(r.payload))
            for r in want.collect()
        )
        assert sub == exp
        assert all(r.compress_type == ct for r in got if r.path == path)


def test_ddp_datasource_single_file_and_missing_path(spark, tmpdir):
    from bensp_suite_spark.sources.ddp_datasource import register_ddp_source

    files = fixtures.synthetic_docs(spark, n_files=2, file_bytes=4096, seed=20)
    blob = ddpfmt.serialize_ddp(pipeline.encode(files, "bzip2"), "bzip2")
    p = os.path.join(tmpdir, "one.ddp")
    with open(p, "wb") as fh:
        fh.write(blob)
    register_ddp_source(spark)
    df = spark.read.format("ddp").load(p)
    assert df.count() == ddpfmt.parse_ddp(spark, blob)[1].count()
    assert df.select("compress_type").distinct().collect()[0][0] == "bzip2"


def test_ddp_stream_matches_batch_source(spark, tmpdir):
    """stream_ddp_records over a directory (availableNow, 1 file/trigger)
    must produce exactly the batch source's rows."""
    from bensp_suite_spark.sources.ddp_datasource import (
        register_ddp_source,
        stream_ddp_records,
    )

    arch_dir = os.path.join(tmpdir, "arch")
    os.makedirs(arch_dir)
    for i in range(3):
        files = fixtures.synthetic_docs(spark, n_files=2, file_bytes=4096, seed=30 + i)
        blob = ddpfmt.serialize_ddp(pipeline.encode(files, "gzip"), "gzip")
        with open(os.path.join(arch_dir, f"s{i}.ddp"), "wb") as fh:
            fh.write(blob)

    out = os.path.join(tmpdir, "out")
    ckpt = os.path.join(tmpdir, "ckpt")
    q = (
        stream_ddp_records(spark, arch_dir, max_files_per_trigger=1)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    register_ddp_source(spark)
    batch = spark.read.format("ddp").load(arch_dir)
    streamed = spark.read.parquet(out)
    key = lambda r: (os.path.basename(r.path), r.seq)
    bs = sorted(((os.path.basename(r.path), r.seq, r.rtype, r.sha1,
                  None if r.payload is None else bytes(r.payload), r.compress_type)
                 for r in batch.collect()))
    ss = sorted(((os.path.basename(r.path), r.seq, r.rtype, r.sha1,
                  None if r.payload is None else bytes(r.payload), r.compress_type)
                 for r in streamed.collect()))
    assert bs == ss and len(bs) > 0


def test_ferret_cli_end_to_end(tmpdir, spark):
    """ferret_cli over vecset parquet: output file holds one name:dist
    line per query; exhaustive mode top-1 of a corpus-member query is
    itself at distance 0."""
    import subprocess

    from bensp_suite_spark.ferret import fixtures as FF

    corpus_p = os.path.join(tmpdir, "corpus")
    queries_p = os.path.join(tmpdir, "queries")
    out_p = os.path.join(tmpdir, "out")
    corpus = FF.synthetic_corpus(spark, m=30, n_clusters=5)
    corpus.write.mode("overwrite").parquet(corpus_p)
    # queries = 4 corpus members verbatim → top-1 must be self at dist 0
    corpus.limit(4).write.mode("overwrite").parquet(queries_p)

    r = subprocess.run(
        [sys.executable, "-m", "bensp_suite_spark.ferret_cli", "query",
         corpus_p, queries_p, "3", out_p, "--mode", "exhaustive", "-v"],
        capture_output=True, text=True, cwd="/root/repo",
    )
    assert r.returncode == 0, r.stderr[-2000:]
    lines = []
    for f in glob.glob(os.path.join(out_p, "part-*")):
        with open(f) as fh:
            lines += [ln.strip() for ln in fh if ln.strip()]
    assert len(lines) == 4
    names = {r_.name for r_ in corpus.limit(4).select("name").collect()}
    for ln in lines:
        fields = ln.split("\t")
        qid, ranked = fields[0], fields[1:]
        assert len(ranked) == 3
        top1_name, top1_dist = ranked[0].rsplit(":", 1)
        assert top1_name in names
        assert float(top1_dist) == 0.0


def test_ferret_cli_missing_input():
    import subprocess

    r = subprocess.run(
        [sys.executable, "-m", "bensp_suite_spark.ferret_cli", "query",
         "/nonexistent", "/nonexistent2", "3", "/tmp/x"],
        capture_output=True, text=True, cwd="/root/repo",
    )
    assert r.returncode == 2


def test_ferret_cli_mkdb_and_prebuilt_index(tmpdir, spark):
    """mkdb builds the LSH index offline; query --index produces the same
    ranking as building the index inline (deterministic E2LSH draws)."""
    import subprocess

    from bensp_suite_spark.ferret import fixtures as FF

    corpus_p = os.path.join(tmpdir, "corpus")
    queries_p = os.path.join(tmpdir, "queries")
    index_p = os.path.join(tmpdir, "index")
    out_a = os.path.join(tmpdir, "out_a")
    out_b = os.path.join(tmpdir, "out_b")
    corpus = FF.synthetic_corpus(spark, m=30, n_clusters=5)
    corpus.write.mode("overwrite").parquet(corpus_p)
    corpus.limit(3).write.mode("overwrite").parquet(queries_p)

    r = subprocess.run(
        [sys.executable, "-m", "bensp_suite_spark.ferret_cli", "mkdb",
         corpus_p, index_p, "-v"],
        capture_output=True, text=True, cwd="/root/repo",
    )
    assert r.returncode == 0, r.stderr[-2000:]
    assert glob.glob(os.path.join(index_p, "*.parquet"))

    def lines_of(out_p):
        ls = []
        for f in glob.glob(os.path.join(out_p, "part-*")):
            with open(f) as fh:
                ls += [ln.strip() for ln in fh if ln.strip()]
        return sorted(ls)

    for out_p, extra in ((out_a, ["--index", index_p]), (out_b, [])):
        r = subprocess.run(
            [sys.executable, "-m", "bensp_suite_spark.ferret_cli", "query",
             corpus_p, queries_p, "3", out_p, "--mode", "lsh", *extra],
            capture_output=True, text=True, cwd="/root/repo",
        )
        assert r.returncode == 0, r.stderr[-2000:]
    assert lines_of(out_a) == lines_of(out_b) and len(lines_of(out_a)) == 3


def test_curate_cli_end_to_end(tmpdir, spark):
    """curate_cli over the documents table: output equals the library
    pipeline's survivors, benchmark slice excluded."""
    import subprocess

    from bensp_suite_spark.pipelines import curation as CUR
    from bensp_suite_spark.tables import load_table

    docs_p = os.path.join(tmpdir, "docs")
    out_p = os.path.join(tmpdir, "curated")
    docs = load_table(spark, "/root/testdata/sf0.01", "documents").select(
        "doc_id", "source", "text"
    )
    docs.write.mode("overwrite").parquet(docs_p)

    r = subprocess.run(
        [sys.executable, "-m", "bensp_suite_spark.curate_cli", docs_p, out_p, "-v"],
        capture_output=True, text=True, cwd="/root/repo",
    )
    assert r.returncode == 0, r.stderr[-2000:]
    assert "survivors" in r.stdout
    got = spark.read.parquet(out_p)
    want = CUR.curate_corpus(docs)
    assert {tuple(x) for x in got.collect()} == {tuple(x) for x in want.collect()}
    assert got.filter("source = 'src0'").count() == 0


def test_ann_cli_mkdb_and_query_end_to_end(spark, tmpdir):
    """ann_cli: build a persistent IVF index, query with and without it —
    prebuilt must rank identically to the inline build, and the brute
    family must contain the exact answer."""
    from bensp_suite_spark.tables import load_table

    from .conftest import SF_CORRECT

    emb_path = os.path.join(tmpdir, "emb")
    q_path = os.path.join(tmpdir, "q")
    emb = load_table(spark, SF_CORRECT, "embeddings").select("vec_id", "embedding")
    emb.write.mode("overwrite").parquet(emb_path)
    emb.filter("vec_id < 6").write.mode("overwrite").parquet(q_path)

    env = dict(os.environ, SPARK_GRAFT_CPUS="4")
    cwd = os.path.dirname(os.path.dirname(__file__))
    idx = os.path.join(tmpdir, "ivf_idx")
    r = subprocess.run(
        [sys.executable, "-m", "bensp_suite_spark.ann_cli", "mkdb", emb_path, idx,
         "--family", "ivf", "-v"],
        capture_output=True, text=True, env=env, cwd=cwd,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    assert os.path.exists(os.path.join(idx, "centroids"))

    out_inline = os.path.join(tmpdir, "out_inline")
    out_prebuilt = os.path.join(tmpdir, "out_prebuilt")
    for out, extra in ((out_inline, []), (out_prebuilt, ["--index", idx])):
        r = subprocess.run(
            [sys.executable, "-m", "bensp_suite_spark.ann_cli", "query", emb_path,
             q_path, "5", out, "--family", "ivf", *extra],
            capture_output=True, text=True, env=env, cwd=cwd,
        )
        assert r.returncode == 0, r.stderr[-2000:]
    a = sorted(map(tuple, spark.read.parquet(out_inline).collect()))
    b = sorted(map(tuple, spark.read.parquet(out_prebuilt).collect()))
    assert a == b and len(a) == 30


def test_ann_cli_graph_families_end_to_end(spark, tmpdir):
    """ann_cli graph families: mkdb + query for routed (with boundary
    spill) and routed-pq — prebuilt routed ranks identically to the
    inline routed build, routed-pq (which REQUIRES an index) returns a
    well-formed top-k, and upsert on a routed index is refused with a
    clear message."""
    from bensp_suite_spark.tables import load_table

    from .conftest import SF_CORRECT

    emb_path = os.path.join(tmpdir, "emb")
    q_path = os.path.join(tmpdir, "q")
    emb = load_table(spark, SF_CORRECT, "embeddings").select("vec_id", "embedding")
    emb.write.mode("overwrite").parquet(emb_path)
    emb.filter("vec_id < 6").write.mode("overwrite").parquet(q_path)
    env = dict(os.environ, SPARK_GRAFT_CPUS="4")
    cwd = os.path.dirname(os.path.dirname(__file__))

    ridx = os.path.join(tmpdir, "routed_idx")
    r = subprocess.run(
        [sys.executable, "-m", "bensp_suite_spark.ann_cli", "mkdb", emb_path,
         ridx, "--family", "routed", "--n-cells", "8", "--spill-eps", "0.25"],
        capture_output=True, text=True, env=env, cwd=cwd,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    out_pre = os.path.join(tmpdir, "out_routed_pre")
    out_inl = os.path.join(tmpdir, "out_routed_inl")
    for out, extra in (
        (out_pre, ["--index", ridx]),
        (out_inl, ["--n-cells", "8"]),
    ):
        r = subprocess.run(
            [sys.executable, "-m", "bensp_suite_spark.ann_cli", "query",
             emb_path, q_path, "5", out, "--family", "routed",
             "--n-probe", "2", *extra],
            capture_output=True, text=True, env=env, cwd=cwd,
        )
        assert r.returncode == 0, r.stderr[-2000:]
    # prebuilt (spilled) vs inline (unspilled) both rank 6×5; the
    # prebuilt one must be internally consistent
    pre = spark.read.parquet(out_pre)
    assert pre.count() == 30
    assert pre.groupBy("query_id").count().filter("count != 5").count() == 0

    pqidx = os.path.join(tmpdir, "pq_idx")
    r = subprocess.run(
        [sys.executable, "-m", "bensp_suite_spark.ann_cli", "mkdb", emb_path,
         pqidx, "--family", "routed-pq", "--n-cells", "8"],
        capture_output=True, text=True, env=env, cwd=cwd,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    # routed-pq without --index is refused up front
    r = subprocess.run(
        [sys.executable, "-m", "bensp_suite_spark.ann_cli", "query", emb_path,
         q_path, "5", os.path.join(tmpdir, "nope"), "--family", "routed-pq"],
        capture_output=True, text=True, env=env, cwd=cwd,
    )
    assert r.returncode == 2 and "routed-pq" in r.stderr
    out_pq = os.path.join(tmpdir, "out_pq")
    r = subprocess.run(
        [sys.executable, "-m", "bensp_suite_spark.ann_cli", "query", emb_path,
         q_path, "5", out_pq, "--family", "routed-pq", "--index", pqidx,
         "--n-probe", "2", "--ef-search", "32"],
        capture_output=True, text=True, env=env, cwd=cwd,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    pq = spark.read.parquet(out_pq)
    assert pq.count() == 30
    # routed upsert: NEW ids append through the CLI (assignment against
    # the persisted centroids; touched cells continue their sequence)
    new_path = os.path.join(tmpdir, "new_vecs")
    emb.filter("vec_id < 20").select(
        (emb.vec_id + 10_000).alias("vec_id"), "embedding"
    ).write.mode("overwrite").parquet(new_path)
    r = subprocess.run(
        [sys.executable, "-m", "bensp_suite_spark.ann_cli", "upsert",
         new_path, ridx],
        capture_output=True, text=True, env=env, cwd=cwd,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    got_ids = {
        row["vec_id"]
        for row in spark.read.parquet(ridx + "/graph")
        .select("vec_id").collect()
    }
    assert all(10_000 + i in got_ids for i in range(20))
    # routed-pq upsert without --corpus: refused with guidance
    r = subprocess.run(
        [sys.executable, "-m", "bensp_suite_spark.ann_cli", "upsert",
         new_path, pqidx],
        capture_output=True, text=True, env=env, cwd=cwd,
    )
    assert r.returncode == 2 and "--corpus" in r.stderr


def test_cli_zstd_encode_decode_round_trip(tmpdir):
    """-w zstd end to end through the CLI: engine-extension archive code 3
    (JVM kernel codec), byte-exact round trip. The reference decoder does
    not know this code — documented as engine-native interchange only."""
    src, datas = _write_input_files(tmpdir, n=3, size=20000)
    archive = os.path.join(tmpdir, "out_zstd.ddp")
    outdir = os.path.join(tmpdir, "decoded_zstd")
    env = dict(os.environ, SPARK_GRAFT_CPUS="4")
    repo = os.path.dirname(os.path.dirname(__file__))
    r1 = subprocess.run(
        [sys.executable, "-m", "bensp_suite_spark.cli", "-c", "-w", "zstd",
         "-i", src, "-o", archive],
        capture_output=True, text=True, env=env, cwd=repo,
    )
    assert r1.returncode == 0, r1.stderr[-2000:]
    with open(archive, "rb") as fh:
        head = fh.read(5)
    assert head[4] == ddpfmt.COMPRESS_ZSTD
    r2 = subprocess.run(
        [sys.executable, "-m", "bensp_suite_spark.cli", "-u",
         "-i", archive, "-o", outdir],
        capture_output=True, text=True, env=env, cwd=repo,
    )
    assert r2.returncode == 0, r2.stderr[-2000:]
    decoded = b"".join(
        open(os.path.join(outdir, f), "rb").read() for f in sorted(os.listdir(outdir))
    )
    assert decoded == b"".join(datas[k] for k in sorted(datas))


def test_ann_cli_upsert_matches_full_build(spark, tmpdir):
    """ann_cli upsert: build on half the corpus, upsert the rest, query —
    must rank identically to an index built over everything at once."""
    from pyspark.sql import functions as F

    from bensp_suite_spark.tables import load_table

    from .conftest import SF_CORRECT

    emb = load_table(spark, SF_CORRECT, "embeddings").select("vec_id", "embedding")
    half = emb.agg(F.expr("cast(max(vec_id)/2 as long)").alias("m")).collect()[0]["m"]
    paths = {n: os.path.join(tmpdir, n) for n in
             ("old", "new", "q", "idx_up", "idx_full", "out_up", "out_full")}
    emb.filter(F.col("vec_id") <= half).write.parquet(paths["old"])
    emb.filter(F.col("vec_id") > half).write.parquet(paths["new"])
    emb.filter("vec_id < 6").write.parquet(paths["q"])
    emb_path = os.path.join(tmpdir, "emb")
    emb.write.parquet(emb_path)

    env = dict(os.environ, SPARK_GRAFT_CPUS="4")
    cwd = os.path.dirname(os.path.dirname(__file__))

    def run(*argv):
        r = subprocess.run(
            [sys.executable, "-m", "bensp_suite_spark.ann_cli", *argv],
            capture_output=True, text=True, env=env, cwd=cwd,
        )
        assert r.returncode == 0, r.stderr[-2000:]

    # explicit --n-cells: upsert preserves the BUILD-TIME sizing, so the
    # full rebuild must be pinned to the same cell count for the
    # upserted-equals-rebuilt contract (auto-sizing would size the half
    # corpus and the full corpus differently — a retrain, not an upsert)
    run("mkdb", paths["old"], paths["idx_up"], "--family", "ivf", "--n-cells", "16")
    run("upsert", paths["new"], paths["idx_up"])
    run("mkdb", emb_path, paths["idx_full"], "--family", "ivf", "--n-cells", "16")
    run("query", emb_path, paths["q"], "5", paths["out_up"],
        "--family", "ivf", "--index", paths["idx_up"])
    run("query", emb_path, paths["q"], "5", paths["out_full"],
        "--family", "ivf", "--index", paths["idx_full"])
    a = sorted(map(tuple, spark.read.parquet(paths["out_up"]).collect()))
    b = sorted(map(tuple, spark.read.parquet(paths["out_full"]).collect()))
    assert a == b and len(a) == 30


def test_daily_cli_state_grows_by_survivors_and_accumulates(spark, tmpdir):
    """daily_cli: init derives day-0 signatures; each step appends exactly
    the day's survivors' rows to the parquet state (growth tracks
    survivors, not history) and a later day's copy of an earlier day's
    survivor flags exact_dup — the accumulation proof through the CLI
    surface. Day-2 flags also match an in-process full recompute."""
    from pyspark.sql import functions as F

    from bensp_suite_spark.operators.dedup_text import incremental_dedup

    hist = spark.createDataFrame(
        [(i, f"corpus document {i} about topic {i % 7}") for i in range(40)],
        "doc_id long, text string",
    )
    d1 = spark.createDataFrame(
        [(100, "corpus document 3 about topic 3"),        # exact dup of history
         (101, "a fresh day-one document on astronomy"),
         (102, "a fresh day-one document on astronomy")],  # intra-batch copy
        "doc_id long, text string",
    )
    d2 = spark.createDataFrame(
        [(200, "a fresh day-one document on astronomy"),   # = day-1 survivor
         (201, "an unrelated day-two text about geology")],
        "doc_id long, text string",
    )
    paths = {n: os.path.join(tmpdir, n) for n in
             ("hist", "d1", "d2", "sig", "f1", "f2")}
    hist.write.parquet(paths["hist"])
    d1.write.parquet(paths["d1"])
    d2.write.parquet(paths["d2"])

    env = dict(os.environ, SPARK_GRAFT_CPUS="4")
    cwd = os.path.dirname(os.path.dirname(__file__))

    def run(*argv):
        r = subprocess.run(
            [sys.executable, "-m", "bensp_suite_spark.daily_cli", *argv],
            capture_output=True, text=True, env=env, cwd=cwd,
        )
        assert r.returncode == 0, r.stderr[-2000:]

    run("init", paths["hist"], paths["sig"])
    h0 = spark.read.parquet(os.path.join(paths["sig"], "hashes")).count()
    s0 = spark.read.parquet(os.path.join(paths["sig"], "sims")).count()
    assert h0 == 40 and s0 == 40

    run("step", paths["d1"], paths["sig"], paths["f1"])
    f1 = {r["doc_id"]: r for r in spark.read.parquet(paths["f1"]).collect()}
    assert f1[100]["exact_dup"] and not f1[100]["is_kept"]
    assert f1[101]["is_kept"] and f1[102]["is_kept"]  # both intra-batch copies
    # growth: +1 distinct hash (101/102 share one), +2 fingerprints
    assert spark.read.parquet(os.path.join(paths["sig"], "hashes")).count() == h0 + 1
    assert spark.read.parquet(os.path.join(paths["sig"], "sims")).count() == s0 + 2

    run("step", paths["d2"], paths["sig"], paths["f2"])
    f2 = {r["doc_id"]: r for r in spark.read.parquet(paths["f2"]).collect()}
    assert f2[200]["exact_dup"] and not f2[200]["is_kept"]  # day-1 survivor copy
    assert f2[201]["is_kept"]
    # parity with a full in-process recompute over history ∪ day-1 survivors
    surv1 = d1.join(
        spark.read.parquet(paths["f1"]).filter(F.col("is_kept")).select("doc_id"),
        "doc_id", "left_semi",
    )
    want = {
        r["doc_id"]: (r["exact_dup"], r["near_dup"], r["is_kept"])
        for r in incremental_dedup(d2, hist.unionByName(surv1)).collect()
    }
    got = {k: (v["exact_dup"], v["near_dup"], v["is_kept"]) for k, v in f2.items()}
    assert got == want


def test_daily_cli_retention_expires_unseen_hashes(spark, tmpdir):
    """Signature retention: steps run with --day stamp last_seen and
    append re-sightings (exact-dup hashes AND near-matched
    fingerprints); `compact --expire-before D` drops BOTH tables' values
    whose newest sighting is < D (state bounded under a rolling window)
    while content kept alive by re-sightings survives. Inside the window
    flags match a full-history run; FORGOTTEN content re-crawled is
    genuinely NEW — neither exact_dup nor near_dup."""
    from pyspark.sql import functions as F

    hist = spark.createDataFrame(
        [(1, "stale doc never seen again words"),
         (2, "evergreen doc recrawled daily words")],
        "doc_id long, text string",
    )
    # day 1: an exact copy of doc 2 (re-sighting) + one fresh doc
    d1 = spark.createDataFrame(
        [(100, "evergreen doc recrawled daily words"),
         (101, "fresh day one doc about comets")],
        "doc_id long, text string",
    )
    # day 2 (post-expiry): copies of the stale doc, the evergreen doc,
    # and the day-1 survivor
    d2 = spark.createDataFrame(
        [(200, "stale doc never seen again words"),
         (201, "evergreen doc recrawled daily words"),
         (202, "fresh day one doc about comets")],
        "doc_id long, text string",
    )
    paths = {n: os.path.join(tmpdir, n) for n in
             ("hist", "d1", "d2", "sig", "f1", "f2")}
    hist.write.parquet(paths["hist"])
    d1.write.parquet(paths["d1"])
    d2.write.parquet(paths["d2"])
    env = dict(os.environ, SPARK_GRAFT_CPUS="4")
    cwd = os.path.dirname(os.path.dirname(__file__))

    def run(*argv):
        r = subprocess.run(
            [sys.executable, "-m", "bensp_suite_spark.daily_cli", *argv],
            capture_output=True, text=True, env=env, cwd=cwd,
        )
        assert r.returncode == 0, r.stderr[-2000:]

    run("init", paths["hist"], paths["sig"])
    run("step", paths["d1"], paths["sig"], paths["f1"], "--day", "1")
    hashes = spark.read.option("mergeSchema", "true").parquet(
        os.path.join(paths["sig"], "hashes")
    )
    # 2 init hashes + 1 survivor hash + 1 re-sighting row (evergreen@1)
    assert hashes.count() == 4
    by_hash = {
        r["content_hash"]: r["last_seen"]
        for r in hashes.groupBy("content_hash")
        .agg(F.max(F.coalesce("last_seen", F.lit(0))).alias("last_seen"))
        .collect()
    }
    assert sorted(by_hash.values()) == [0, 1, 1]  # stale@0, evergreen@1, fresh@1
    # the fingerprint table got re-sighting rows too: doc 100 (exact copy
    # of evergreen doc 2, hamming 0) near-matched doc 2's fingerprint
    sims = spark.read.option("mergeSchema", "true").parquet(
        os.path.join(paths["sig"], "sims")
    )
    assert sims.count() == 4  # 2 init + 1 survivor (101) + 1 re-sighting
    # expire everything not seen since day 1: the stale doc's hash AND
    # fingerprint (last 0) go; the evergreen doc's survive because the
    # day-1 re-sightings refreshed both
    run("compact", paths["sig"], "--expire-before", "1")
    hashes2 = spark.read.parquet(os.path.join(paths["sig"], "hashes"))
    assert hashes2.count() == 2  # bounded: exactly the in-window hashes
    sims2 = spark.read.parquet(os.path.join(paths["sig"], "sims"))
    assert sims2.count() == 2   # bounded the same way
    run("step", paths["d2"], paths["sig"], paths["f2"], "--day", "2")
    f2 = {r["doc_id"]: r for r in spark.read.parquet(paths["f2"]).collect()}
    # the forget semantics end to end: the expired stale doc re-crawled
    # is genuinely NEW — the exact state forgot its hash AND the near
    # state forgot its fingerprint
    assert not f2[200]["exact_dup"] and not f2[200]["near_dup"]
    assert f2[200]["is_kept"]
    # in-window content still dedupes exactly as full history would
    assert f2[201]["exact_dup"] and not f2[201]["is_kept"]
    assert f2[202]["exact_dup"] and not f2[202]["is_kept"]
    # forgotten content re-enters the state with the new day: doc 200
    # survived, so its hash + fingerprint are back (stamped day 2)
    hashes3 = spark.read.option("mergeSchema", "true").parquet(
        os.path.join(paths["sig"], "hashes")
    )
    # 2 in-window + survivor(200)@2 + 2 re-sighting rows (201, 202)
    assert hashes3.count() == 5
    assert hashes3.select("content_hash").distinct().count() == 3
    by_hash2 = {
        r["content_hash"]: r["last_seen"]
        for r in hashes3.groupBy("content_hash")
        .agg(F.max(F.coalesce("last_seen", F.lit(0))).alias("last_seen"))
        .collect()
    }
    assert sorted(by_hash2.values()) == [2, 2, 2]  # every hash sighted day 2


def test_warc_parser_never_crashes_on_arbitrary_bytes():
    """Hostile-bytes contract for the WARC parser (same as the ddp/mp4
    decoders): arbitrary bytes, bit-flipped valid archives, and
    truncations either parse or raise typed ValueError — never raw
    index/key/struct errors. Valid archives round-trip through the
    writer."""
    from hypothesis import given, settings, strategies as st

    from bensp_suite_spark.sources.warc import (
        build_http_response,
        build_warc_bytes,
        iter_warc_records,
        parse_http_response,
    )

    valid = build_warc_bytes(
        [
            ("warcinfo", None, b"software: fuzz\r\n"),
            ("response", "https://ex.com/a",
             build_http_response(b"<html>x</html>")),
        ]
    )
    # the writer/parser pair round-trips
    recs = list(iter_warc_records(valid))
    assert [r[1]["warc-type"] for r in recs] == ["warcinfo", "response"]
    st_, ct, payload = parse_http_response(recs[1][2])
    assert (st_, ct, payload) == (200, "text/html", b"<html>x</html>")

    mutants = st.tuples(
        st.integers(0, len(valid) - 1), st.integers(0, 255)
    ).map(lambda t: valid[: t[0]] + bytes([t[1]]) + valid[t[0] + 1 :])
    truncations = st.integers(0, len(valid) - 1).map(lambda n: valid[:n])

    @settings(max_examples=120, deadline=None)
    @given(st.one_of(st.binary(max_size=96), mutants, truncations))
    def check(buf):
        try:
            for _idx, _hdr, block in iter_warc_records(buf):
                parse_http_response(block)  # must never raise at all
        except ValueError:
            pass

    check()


def test_ddp_parser_never_crashes_on_arbitrary_bytes(spark):
    """Hostile-bytes contract for the .ddp interchange parser (same as
    the media decoders): arbitrary bytes and bit-flipped valid archives
    either parse or raise typed ValueError — never raw struct/key
    errors. A truncated valid archive must also reject typed."""
    from hypothesis import given, settings, strategies as st

    from bensp_suite_spark.dedup import fixtures as DF
    from bensp_suite_spark.dedup import pipeline as DP
    from bensp_suite_spark.sources.ddp import iter_ddp_records, serialize_ddp

    files = DF.synthetic_docs(spark, n_files=2, file_bytes=1 << 14, pool_size=4, seed=3)
    valid = serialize_ddp(DP.encode(files, compress_type="gzip"))

    mutants = st.tuples(
        st.integers(0, len(valid) - 1), st.integers(0, 255)
    ).map(lambda t: valid[: t[0]] + bytes([t[1]]) + valid[t[0] + 1 :])
    truncations = st.integers(0, len(valid) - 1).map(lambda n: valid[:n])

    @settings(max_examples=80, deadline=None)
    @given(st.one_of(st.binary(max_size=64), mutants, truncations))
    def check(buf):
        try:
            list(iter_ddp_records(buf))
        except ValueError:
            pass

    check()


def test_quickstart_example_runs_end_to_end():
    import os
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    proc = subprocess.run(
        [sys.executable, os.path.join(repo, "examples", "quickstart.py")],
        capture_output=True, text=True, timeout=300, cwd=repo,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    assert "round trip: byte-exact" in proc.stdout
    assert "quickstart complete" in proc.stdout


def test_daily_cli_step_idempotent_and_compact_preserves_flags(spark, tmpdir):
    """ADVICE r6 (medium): a scheduler RETRY of a committed step must be a
    no-op — no duplicate signature rows, no flag fan-out on later days.
    Then `compact` merges the per-step state partitions (file/partition
    count drops) and the NEXT step's flags still equal an in-process full
    recompute."""
    import glob

    from pyspark.sql import functions as F

    from bensp_suite_spark.operators.dedup_text import incremental_dedup

    hist = spark.createDataFrame(
        [(i, f"cli corpus doc {i} about {i % 5}") for i in range(30)],
        "doc_id long, text string",
    )
    d1 = spark.createDataFrame(
        [(100, "cli corpus doc 3 about 3"),                 # exact dup
         (101, "a fresh daily document on astronomy")],
        "doc_id long, text string",
    )
    d2 = spark.createDataFrame(
        [(200, "a fresh daily document on astronomy"),       # = day-1 survivor
         (201, "an unrelated day-two text about geology")],
        "doc_id long, text string",
    )
    paths = {n: os.path.join(tmpdir, n) for n in
             ("hist", "d1", "d2", "sig", "f1", "f1b", "f2")}
    hist.write.parquet(paths["hist"])
    d1.write.parquet(paths["d1"])
    d2.write.parquet(paths["d2"])

    env = dict(os.environ, SPARK_GRAFT_CPUS="4")
    cwd = os.path.dirname(os.path.dirname(__file__))

    def run(*argv):
        r = subprocess.run(
            [sys.executable, "-m", "bensp_suite_spark.daily_cli", *argv],
            capture_output=True, text=True, env=env, cwd=cwd,
        )
        assert r.returncode == 0, r.stderr[-2000:]

    run("init", paths["hist"], paths["sig"])
    assert os.path.exists(os.path.join(paths["sig"], "bloom.bin"))
    assert os.path.exists(os.path.join(paths["sig"], "band_bloom.bin"))
    run("step", paths["d1"], paths["sig"], paths["f1"], "--step-id", "day1")
    h1 = spark.read.parquet(os.path.join(paths["sig"], "hashes")).count()
    s1 = spark.read.parquet(os.path.join(paths["sig"], "sims")).count()
    # RETRY the committed step (same step-id, different flags path):
    # state must not grow — the silent double-append ADVICE flagged
    run("step", paths["d1"], paths["sig"], paths["f1b"], "--step-id", "day1")
    assert spark.read.parquet(os.path.join(paths["sig"], "hashes")).count() == h1
    assert spark.read.parquet(os.path.join(paths["sig"], "sims")).count() == s1

    parts_before = len(glob.glob(os.path.join(paths["sig"], "*", "step=*")))
    assert parts_before == 4  # (init + day1) × (hashes, sims)
    run("compact", paths["sig"])
    parts_after = len(glob.glob(os.path.join(paths["sig"], "*", "step=*")))
    assert parts_after == 2   # one merged partition per table
    assert spark.read.parquet(os.path.join(paths["sig"], "hashes")).count() == h1

    run("step", paths["d2"], paths["sig"], paths["f2"], "--step-id", "day2")
    f2 = {r["doc_id"]: (r["exact_dup"], r["near_dup"], r["is_kept"])
          for r in spark.read.parquet(paths["f2"]).collect()}
    surv1 = d1.join(
        spark.read.parquet(paths["f1"]).filter(F.col("is_kept")).select("doc_id"),
        "doc_id", "left_semi",
    )
    want = {
        r["doc_id"]: (r["exact_dup"], r["near_dup"], r["is_kept"])
        for r in incremental_dedup(d2, hist.unionByName(surv1)).collect()
    }
    assert f2 == want
    # day-1 survivor copy still flags (exact — and near too: hamming 0)
    assert f2[200][0] is True and f2[200][2] is False


def test_daily_cli_compact_heals_an_interrupted_swap(spark, tmpdir):
    """A crash between compact's two swap renames leaves sig/hashes only at
    its backup. The next compact must restore it before it lists the
    partitions, keep every hash, and leave a state the next step reads."""
    hist = spark.createDataFrame(
        [(i, f"heal corpus doc {i} about {i % 4}") for i in range(12)],
        "doc_id long, text string",
    )
    d1 = spark.createDataFrame(
        [(100, "heal corpus doc 3 about 3"), (101, "a fresh doc about tides")],
        "doc_id long, text string",
    )
    paths = {n: os.path.join(tmpdir, n) for n in ("hist", "d1", "d2", "sig", "f1", "f2")}
    hist.write.parquet(paths["hist"])
    d1.write.parquet(paths["d1"])
    d1.write.parquet(paths["d2"])
    env = dict(os.environ, SPARK_GRAFT_CPUS="4")
    cwd = os.path.dirname(os.path.dirname(__file__))

    def run(*argv):
        r = subprocess.run(
            [sys.executable, "-m", "bensp_suite_spark.daily_cli", *argv],
            capture_output=True, text=True, env=env, cwd=cwd,
        )
        assert r.returncode == 0, r.stderr[-2000:]

    run("init", paths["hist"], paths["sig"])
    run("step", paths["d1"], paths["sig"], paths["f1"])
    hashes = os.path.join(paths["sig"], "hashes")

    def distinct_hashes():
        return {r[0] for r in spark.read.parquet(hashes).select("content_hash").collect()}

    want = distinct_hashes()
    os.rename(hashes, hashes + "._compact_old")
    run("compact", paths["sig"])
    assert os.path.isdir(hashes)
    assert distinct_hashes() == want
    run("step", paths["d2"], paths["sig"], paths["f2"])
    f2 = {r["doc_id"]: r["is_kept"] for r in spark.read.parquet(paths["f2"]).collect()}
    assert f2 == {100: False, 101: False}  # both seen: history, then day 1


def test_web_cli_linkgraph_rank_curate(spark, tmpdir):
    """web_cli end-to-end: linkgraph output equals the library operator,
    rank output equals pagerank_int over the host edges, curate output
    equals curate_web_corpus — the CLI is a faithful surface, not a
    parallel implementation."""
    from pyspark.sql import functions as F

    from bensp_suite_spark.operators.graph import pagerank_int
    from bensp_suite_spark.operators.urls import extract_links, url_host
    from bensp_suite_spark.pipelines.web import curate_web_corpus

    pages = spark.createDataFrame(
        [
            (i,
             f"https://src{i % 3}.example.com/p/{i}",
             f'<html><head><title>T{i}</title></head><body><p>doc {i % 4} text</p>'
             f'<a href="https://WWW.src{(i + 1) % 3}.example.com/p/{(i * 7) % 20}'
             f'?utm_x=1">go {i % 5}</a>'
             f' <a href="/rel/{i}">r</a></body></html>')
            for i in range(40)
        ],
        "doc_id long, url string, html string",
    )
    paths = {n: os.path.join(tmpdir, n) for n in
             ("pages", "links", "ranks", "cur")}
    pages.write.parquet(paths["pages"])

    env = dict(os.environ, SPARK_GRAFT_CPUS="4")
    cwd = os.path.dirname(os.path.dirname(__file__))

    def run(*argv):
        r = subprocess.run(
            [sys.executable, "-m", "bensp_suite_spark.web_cli", *argv],
            capture_output=True, text=True, env=env, cwd=cwd,
        )
        assert r.returncode == 0, r.stderr[-2000:]

    run("linkgraph", paths["pages"], paths["links"])
    got_links = {tuple(r) for r in spark.read.parquet(paths["links"]).collect()}
    want_links = {tuple(r) for r in extract_links(pages).collect()}
    assert got_links == want_links and len(got_links) == 40  # relative dropped

    run("rank", paths["links"], paths["ranks"], "--iterations", "2")
    got_ranks = {tuple(r) for r in spark.read.parquet(paths["ranks"]).collect()}
    links = extract_links(pages)
    edges = (
        links.select(url_host(F.col("src")).alias("src"),
                     url_host(F.col("dst")).alias("dst"))
        .filter(F.col("src") != F.col("dst")).distinct()
    )
    want_ranks = {
        (r["node"], r["rank"]) for r in pagerank_int(edges, iterations=2).collect()
    }
    assert got_ranks == want_ranks and len(got_ranks) == 3

    run("curate", paths["pages"], paths["cur"],
        "--max-per-domain", "5", "--block", "src2.example.com")
    got_cur = {tuple(r) for r in spark.read.parquet(paths["cur"]).collect()}
    want_cur = {
        tuple(r)
        for r in curate_web_corpus(
            pages, max_per_domain=5, blocklist=["src2.example.com"]
        ).collect()
    }
    assert got_cur == want_cur
    assert all(h != "src2.example.com" for _, h, *_ in got_cur)

    # frontier: prioritized uncrawled fetch list == the library pipeline,
    # quota binds, and no already-crawled canonical URL is scheduled
    from bensp_suite_spark.operators.urls import canonical_url
    from bensp_suite_spark.pipelines.web import crawl_frontier

    fr_path = os.path.join(tmpdir, "frontier")
    run("frontier", paths["pages"], fr_path, "--quota", "3",
        "--iterations", "2")
    got_fr = {tuple(r) for r in spark.read.parquet(fr_path).collect()}
    want_fr = {
        tuple(r)
        for r in crawl_frontier(pages, quota_per_host=3, iterations=2).collect()
    }
    assert got_fr == want_fr and got_fr
    per_host = {}
    for host, _url, _rank, slot in got_fr:
        per_host[host] = max(per_host.get(host, 0), slot)
    assert all(s <= 3 for s in per_host.values())
    crawled = {
        r["cu"]
        for r in pages.select(canonical_url(F.col("url")).alias("cu")).collect()
    }
    assert all(url not in crawled for _h, url, _r, _s in got_fr)
