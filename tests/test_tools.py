"""CLI tools (reference tools/ parity — thin wrappers over library
operators; csv2avro e2e-tested here, broker-bound subcommands are
covered by wiring/arg checks since the sandbox has no endpoints)."""

import datetime

import pytest


def test_csv2avro_end_to_end(spark, tmp_path):
    """csv2avro.cpp behavior: typed CSV in, Avro container out — read
    back through the jarless split reader and compare values + types."""
    from kspp_spark.sources.avro_ocf import read_avro_ocf
    from kspp_spark.tools import csv2avro

    src = tmp_path / "in.csv"
    src.write_text(
        "id,name,score,active\n"
        "1,alice,3.5,true\n"
        "2,bob,1.25,false\n"
        "3,carol,9.0,true\n"
    )
    dst = str(tmp_path / "out_avro")
    csv2avro(spark, str(src), dst, codec="deflate")

    back = read_avro_ocf(spark, dst)
    rows = {r.id: (r.name, r.score, r.active) for r in back.collect()}
    assert rows == {
        1: ("alice", 3.5, True),
        2: ("bob", 1.25, False),
        3: ("carol", 9.0, True),
    }
    # schema inference carried through the avro round trip
    kinds = {f.name: f.dataType.simpleString() for f in back.schema.fields}
    assert kinds["id"] == "int"
    assert kinds["name"] == "string"
    assert kinds["score"] == "double"
    assert kinds["active"] == "boolean"


def test_csv2avro_timestamp_and_date_columns(spark, tmp_path):
    """Regression: CSV columns inferred as timestamp/date must convert
    in-plan (write_avro_ocf owns the temporal handling) instead of
    crashing the per-partition encoder on datetime objects."""
    from kspp_spark.sources.avro_ocf import read_avro_ocf
    from kspp_spark.tools import csv2avro

    src = tmp_path / "in.csv"
    src.write_text(
        "id,seen,day\n"
        "1,2024-03-01T10:30:00,2024-03-01\n"
        "2,2024-03-02T08:00:00,2024-03-02\n"
    )
    dst = str(tmp_path / "out_avro")
    csv2avro(spark, str(src), dst)

    back = read_avro_ocf(spark, dst)
    kinds = {f.name: f.dataType.simpleString() for f in back.schema.fields}
    assert kinds["seen"] == "timestamp"
    assert kinds["day"] == "date"
    rows = {r.id: (r.seen, r.day) for r in back.collect()}
    assert rows[1] == (
        datetime.datetime(2024, 3, 1, 10, 30),
        datetime.date(2024, 3, 1),
    )
    assert rows[2][1] == datetime.date(2024, 3, 2)


def test_table_snapshot_latest_per_key_with_tombstones(spark, tmp_path):
    """kafka2table read side: the parquet changelog compacts to latest
    per key on read; a newest-null value deletes the key (rocksdb_store
    delete parity)."""
    from kspp_spark.tools import table_snapshot

    dst = str(tmp_path / "changelog")

    def t(s):
        return datetime.datetime(2024, 1, 1, 0, 0, s)

    sch = "key string, value string, event_time timestamp"
    # two micro-batch appends, like the streaming writer produces
    spark.createDataFrame(
        [("a", "1", t(1)), ("b", "2", t(2))], sch
    ).write.mode("append").parquet(dst)
    spark.createDataFrame(
        [("a", "10", t(5)), ("b", None, t(6)), ("c", "3", t(4))], sch
    ).write.mode("append").parquet(dst)

    got = {r.key: r.value for r in table_snapshot(spark, dst).collect()}
    assert got == {"a": "10", "c": "3"}  # b tombstoned away


def test_cli_parses_and_runs_csv2avro(tmp_path, monkeypatch):
    """`python -m kspp_spark.tools csv2avro ...` end to end through
    main() — the actual CLI surface (session creation monkeypatched to
    reuse the suite's session via getOrCreate idempotence)."""
    import kspp_spark.tools as tools

    src = tmp_path / "t.csv"
    src.write_text("k,v\nx,1\ny,2\n")
    dst = str(tmp_path / "o")
    rc = tools.main(["csv2avro", "--src", str(src), "--dst", dst])
    assert rc == 0
    import glob

    assert glob.glob(dst + "/*.avro")


def test_cli_rejects_unknown_subcommand():
    import kspp_spark.tools as tools

    with pytest.raises(SystemExit):
        tools.main(["not-a-tool"])


def test_examples_compile():
    """The examples/ scripts (reference examples/ parity) stay
    importable — full runs need their own SparkSession so they are
    exercised manually, but syntax/import rot is caught here."""
    import pathlib
    import py_compile

    ex_dir = pathlib.Path(__file__).parent.parent / "examples"
    scripts = sorted(ex_dir.glob("example_*.py"))
    assert len(scripts) >= 4
    for s in scripts:
        py_compile.compile(str(s), doraise=True)


def test_docs2index_builds_queryable_artifacts(spark, tmp_path):
    """docs2index writes the bucketed postings + doclen table, and the
    indexed query operators produce the same results as the direct
    path when reading them back."""
    from kspp_spark.functions.text import (
        bm25_indexed,
        bm25_topk,
        phrase_search,
        phrase_search_indexed,
    )
    from kspp_spark.tools import docs2index

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    src = "/root/testdata/sf0.001/documents.parquet"
    dst = str(tmp_path / "idx")
    docs2index(spark, src, dst, buckets=4)
    idx = spark.read.parquet(f"{dst}/postings")
    dl = spark.read.parquet(f"{dst}/doclen")
    direct = {
        (r.doc_id, r.n_matches)
        for r in phrase_search(docs, ["table", "scan"]).collect()
    }
    via = {
        (r.doc_id, r.n_matches)
        for r in phrase_search_indexed(idx, ["table", "scan"]).collect()
    }
    assert direct == via and via
    b1 = [(r.doc_id, r.score) for r in bm25_topk(docs, ["scan", "join"], k=5).collect()]
    b2 = [
        (r.doc_id, r.score)
        for r in bm25_indexed(idx, dl, ["scan", "join"], k=5).collect()
    ]
    assert b1 == b2


def test_register_schema_protobuf_and_avro(tmp_path):
    """register-schema parity (kspp_protobuf_register_schema.cpp):
    a .proto file posts with Confluent schemaType=PROTOBUF, an .avsc
    posts the registry-default (no schemaType field), both to
    POST /subjects/{subject}/versions, returning the assigned id."""
    import json

    from kspp_spark.tools import register_schema

    calls = []

    def fake_post(url, payload):
        calls.append((url, json.loads(payload)))
        return json.dumps({"id": len(calls)})

    proto = tmp_path / "user.proto"
    proto.write_text('syntax = "proto3"; message User { int64 id = 1; }')
    sid = register_schema(
        "http://reg:8081", "user-value", str(proto), post_fn=fake_post
    )
    assert sid == 1
    url, payload = calls[0]
    assert url == "http://reg:8081/subjects/user-value/versions"
    assert payload["schemaType"] == "PROTOBUF"
    assert "message User" in payload["schema"]

    avsc = tmp_path / "user.avsc"
    avsc.write_text(
        '{"type": "record", "name": "User", '
        '"fields": [{"name": "id", "type": "long"}]}'
    )
    sid = register_schema(
        "http://reg:8081", "user-avro", str(avsc), post_fn=fake_post
    )
    assert sid == 2
    url, payload = calls[1]
    assert url == "http://reg:8081/subjects/user-avro/versions"
    assert "schemaType" not in payload  # AVRO is the registry default


def test_train_bpe_cli_persists_loadable_merge_table(spark, tmp_path):
    """train-bpe writes the tokenizer artifact; load_bpe_merges feeds
    it straight into bpe_encode for identical results."""
    from kspp_spark.functions.text import (
        bpe_encode,
        bpe_train,
        load_bpe_merges,
    )
    from kspp_spark.tools import train_bpe

    src = str(tmp_path / "corpus")
    dst = str(tmp_path / "merges")
    rows = [(i, "low lower newest widest low low newest") for i in range(4)]
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(src)

    n = train_bpe(spark, src, dst, n_merges=4, alphabet="chars")
    assert n == 4
    loaded = load_bpe_merges(spark, dst)
    direct, _ = bpe_train(
        spark.read.parquet(src), n_merges=4, alphabet="chars"
    )
    assert [(a, b) for a, b, _ in loaded] == [(a, b) for a, b, _ in direct]
    # the artifact records its alphabet and DRIVES encode: the loaded
    # chars table applied with the matching alphabet reproduces the
    # trainer's merges on real text (first merge = ('e','s') -> 'es'
    # is present in the encoded symbols; encode with the WRONG
    # (words) alphabet applies nothing)
    from kspp_spark.functions.text import bpe_encode, load_bpe_alphabet

    assert load_bpe_alphabet(spark, dst) == "chars"
    docs = spark.read.parquet(src)
    enc = bpe_encode(docs, loaded, alphabet=load_bpe_alphabet(spark, dst))
    rows = enc.collect()
    toks = {t for r in rows for t in r.toks}
    a0, b0, _ = loaded[0]
    # the top merge really applied: its pair never survives adjacent,
    # and its merged symbol lives on (possibly inside later compound
    # merges, e.g. 'lo' -> 'low')
    assert not any(
        x == a0 and y == b0 for r in rows for x, y in zip(r.toks, r.toks[1:])
    )
    assert any((a0 + b0) in t for t in toks)
    assert any(len(t) > 1 and t != "</w>" for t in toks)  # real subwords
    # encode with the WRONG (words) alphabet applies nothing — which is
    # exactly why the artifact records its alphabet
    words_enc = bpe_encode(docs, loaded, alphabet="words")
    text0 = docs.orderBy("doc_id").first().text
    assert words_enc.orderBy("doc_id").first().toks == text0.split()


def test_cli_env_fallbacks(monkeypatch, tmp_path, recwarn):
    """Omitted --brokers / --registry resolve from the reference's
    KSPP_* environment (env.cpp conventions) INCLUDING the security
    config: an ssl:// environment yields SSL client options, a
    plaintext one never probes TLS files; explicit args win."""
    from kspp_spark.tools import resolve_kafka, resolve_registry

    monkeypatch.setenv("KSPP_KAFKA_BROKER_URL", "plaintext://env1:9092,env2:9092")
    monkeypatch.setenv("KSPP_SCHEMA_REGISTRY_URL", "http://envreg:8081")
    bootstrap, extra = resolve_kafka(None)
    assert bootstrap == "env1:9092,env2:9092"
    assert extra["kafka.security.protocol"] == "PLAINTEXT"
    # plaintext env: no TLS filesystem probing, no cert warnings
    assert not [w for w in recwarn.list if "ca_cert" in str(w.message)]
    assert resolve_kafka("cli:9092") == ("cli:9092", {})
    assert resolve_registry(None) == "http://envreg:8081"
    assert resolve_registry("http://cli:1") == "http://cli:1"

    # ssl env with TLS material present: the security config rides
    # along instead of being silently discarded
    ca = tmp_path / "ca.pem"; ca.write_text("x")
    cert = tmp_path / "c.pem"; cert.write_text("x")
    key = tmp_path / "k.pem"; key.write_text("x")
    monkeypatch.setenv("KSPP_KAFKA_BROKER_URL", "ssl://b1:9093,b2:9093")
    monkeypatch.setenv("KSPP_CA_CERT", str(ca))
    monkeypatch.setenv("KSPP_CLIENT_CERT", str(cert))
    monkeypatch.setenv("KSPP_CLIENT_KEY", str(key))
    bootstrap, extra = resolve_kafka(None)
    assert bootstrap == "b1:9093,b2:9093"  # scheme-once covers the list
    assert extra["kafka.security.protocol"] == "SSL"
    assert extra["kafka.ssl.truststore.type"] == "PEM"
    assert extra["kafka.ssl.truststore.location"] == str(ca)
    assert extra["kafka.ssl.keystore.certificate.chain"] == "x"


def test_warc2docs_cli(spark, tmp_path):
    """The raw-crawl front door end-to-end via the CLI: WARC segments
    in, curation-ready parquet out — latest capture per canonical URL
    wins, HTML stripped to text."""
    from kspp_spark import tools

    def record(headers, block):
        h = "".join(f"{k}: {v}\r\n" for k, v in headers.items())
        return (
            b"WARC/1.0\r\n" + h.encode()
            + f"Content-Length: {len(block)}\r\n\r\n".encode()
            + block + b"\r\n\r\n"
        )

    def response(uri, date, body):
        http = b"HTTP/1.1 200 OK\r\n\r\n" + body.encode()
        return record(
            {
                "WARC-Type": "response",
                "WARC-Record-ID": f"<urn:uuid:{uri}{date}>",
                "WARC-Target-URI": uri,
                "WARC-Date": date,
                "Content-Type": "application/http;msgtype=response",
            },
            http,
        )

    crawl = tmp_path / "crawl"
    crawl.mkdir()
    (crawl / "seg.warc").write_bytes(
        response(
            "http://ex.com/a?x=1&y=2", "2026-01-01T00:00:00Z",
            "<p>old capture</p>",
        )
        + response(
            "http://EX.com:80/a?y=2&x=1", "2026-02-01T00:00:00Z",
            "<h1>Title</h1><p>new &amp; shiny</p>",
        )
        + response("http://ex.com/b", "2026-01-01T00:00:00Z", "<p>b page</p>")
    )
    dst = str(tmp_path / "docs")
    rc = tools.main(["warc2docs", "--src", str(crawl), "--dst", dst])
    assert rc == 0
    out = {r.canon_url: r for r in spark.read.parquet(dst).collect()}
    assert len(out) == 2
    a = out["http://ex.com/a?x=1&y=2"]
    assert a.text == "Title\nnew & shiny" and a.n_captures == 2
    assert out["http://ex.com/b"].text == "b page"
    # --raw-html --all-captures: every capture, bodies untouched
    dst2 = str(tmp_path / "docs2")
    rc = tools.main(
        ["warc2docs", "--src", str(crawl), "--dst", dst2,
         "--raw-html", "--all-captures"]
    )
    assert rc == 0
    from pyspark.sql import functions as F

    raw = spark.read.parquet(dst2)
    assert raw.count() == 3
    assert raw.filter(F.col("text").contains("<p>")).count() == 3


def test_bench_stdout_envelope_survives_truncation():
    """VERDICT r13 item #1: the one-line bench JSON must carry the
    measurement-context envelope (degraded / machine_factor /
    load_avg_start / runs) even when the per-query dict overflows the
    driver's 2000-char tail window — the r13 bench ran at load 1.51
    and the old shedding order dropped exactly those flags first."""
    import json
    import sys

    sys.path.insert(0, "/root/repo")
    import bench

    names = [f"query_{i:03d}_with_a_long_descriptive_name" for i in range(139)]
    timings = {q: 1.2345 for q in names}
    out = {
        "metric": "sum_median_query_sec",
        "value": round(sum(timings.values()), 4),
        "sf": 0.1,
        "runs": 3,
        "machine_factor": 1.1234,
        "degraded": True,
        "load_avg_start": 1.51,
    }
    line = bench.format_stdout_line(out, timings, names)
    assert len(line) < 1995
    parsed = json.loads(line)
    # envelope keys are NEVER shed
    assert parsed["degraded"] is True
    assert parsed["machine_factor"] == 1.1234
    assert parsed["load_avg_start"] == 1.51
    assert parsed["runs"] == 3
    # query entries were shed newest-first with an honest count
    assert parsed["queries_truncated"] > 0
    assert parsed["queries_truncated"] + len(parsed["queries"]) == 139
    # the kept entries are the NEWEST bench additions
    assert names[-1] in parsed["queries"]
    assert names[0] not in parsed["queries"]

    # small suites fit whole: no truncation key, full precision
    small = {q: 1.2345 for q in names[:10]}
    out2 = dict(out, value=round(sum(small.values()), 4))
    parsed2 = json.loads(bench.format_stdout_line(out2, small, names[:10]))
    assert "queries_truncated" not in parsed2
    assert parsed2["queries"] == small
    assert parsed2["degraded"] is True


def test_bench_unwritable_record_warns_and_still_prints(tmp_path, capsys):
    """A BENCH_LOCAL write that fails warns on stderr, naming the path,
    and the one stdout line is still printed."""
    import json

    import bench

    timings = {"q1": 1.5}
    out = {"metric": "sum_median_query_sec", "value": 1.5, "sf": 0.1,
           "runs": 1, "degraded": False, "load_avg_start": 0.2}
    unwritable = str(tmp_path / "no_such_dir" / "BENCH_LOCAL.json")
    with pytest.warns(RuntimeWarning, match="no_such_dir/BENCH_LOCAL.json"):
        bench.emit_record(out, timings, ["q1"], unwritable)
    lines = capsys.readouterr().out.splitlines()
    assert len(lines) == 1
    assert json.loads(lines[0])["queries"] == timings
