"""Round-5 fixes: ADVICE r4 findings (mmdb bad-IP degradation,
query_string modifier drop on attribute fields, nulls-last search_after
pagination, zero-overlap star-edge survival, range-agg key collision)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


# ------------------------------------------------------------ geoip mmdb --
def test_geo_enrich_mmdb_bad_ips_degrade_to_null(spark, tmp_path):
    """Null, malformed, out-of-range, and IPv6 values must enrich to null
    (like the range-table twin's cast-to-null left join), not crash."""
    from data_prepper_spark.operators.enrich import geo_enrich_mmdb
    from data_prepper_spark.operators.mmdb import write_mmdb

    p = str(tmp_path / "bad.mmdb")
    write_mmdb(p, [("10.0.0.0/8", {"country": {"iso_code": "US"}})])
    rows = [
        (0, "10.1.2.3"),       # valid, in net
        (1, None),             # null
        (2, "not-an-ip"),
        (3, "999.1.2.3"),      # octet out of range
        (4, "1.2.3"),          # short
        (5, "::1"),            # IPv6
        (6, "10.255.0.1"),     # valid, in net
        (7, "11.0.0.1"),       # valid, miss
    ]
    df = spark.createDataFrame(rows, "id long, ip string")
    got = {
        r.id: r.country
        for r in geo_enrich_mmdb(df, "ip", p, {"country": "country.iso_code"})
        .select("id", "country").collect()
    }
    assert got == {0: "US", 1: None, 2: None, 3: None, 4: None,
                   5: None, 6: "US", 7: None}


# ----------------------------------------------------------- query_string --
def test_query_string_boost_fuzz_on_attribute_raises():
    """Boost / fuzziness on a non-indexed (attribute) field used to be
    silently dropped; now it fails loudly like the wildcard case."""
    from data_prepper_spark.query.querystring import parse_query_string

    with pytest.raises(ValueError, match="boost/fuzziness"):
        parse_query_string("lang:en^2")
    with pytest.raises(ValueError, match="boost/fuzziness"):
        parse_query_string("lang:foo~1")
    # boost/fuzz on the DEFAULT (indexed) field still parses
    t = parse_query_string("hello^2")
    assert t == {"match": {"content": {"query": "hello", "boost": 2.0}}}
    assert "fuzzy" in parse_query_string("hello~1")


# ------------------------------------------------- nulls-last search_after --
def test_search_after_null_sort_keys_paginate(spark):
    """Docs with a missing sort field sort LAST (OpenSearch default) and
    every doc is reachable exactly once through search_after pages."""
    from data_prepper_spark.query.dsl import search_body_adhoc

    rows = [
        (1, "alpha beta", 30),
        (2, "alpha beta", None),
        (3, "alpha beta", 10),
        (4, "alpha beta", None),
        (5, "alpha beta", 20),
    ]
    df = spark.createDataFrame(rows, "doc_id long, content string, size int")
    body = {
        "query": {"match_all": {}},
        "sort": [{"size": "asc"}, {"_doc": "asc"}],
        "size": 2,
        "_source": ["size"],
    }
    seen = []
    cursor = None
    for _ in range(5):
        b = dict(body)
        if cursor is not None:
            b["search_after"] = cursor
        page = search_body_adhoc(df, "content", "doc_id", b).orderBy("rank").collect()
        if not page:
            break
        seen += [(r.doc_id, r.size) for r in page]
        cursor = [page[-1].size, page[-1].doc_id]
    # non-null sizes ascending first, then the null-size docs by doc_id
    assert seen == [(3, 10), (5, 20), (1, 30), (2, None), (4, None)]


# ------------------------------------------------------------------ dedupe --
def test_capped_verify_keeps_zero_overlap_star_edges(spark, monkeypatch):
    """A star connectivity edge whose rep/member share no shingles emits
    no jaccard_on_pairs row; the left-join + coalesce must keep it (an
    inner join silently dropped it)."""
    import data_prepper_spark.operators.dedupe as dd

    real = dd.jaccard_on_pairs

    def no_overlap(pairs, sh):
        # simulate the zero-common-shingles case: no jaccard row at all
        return real(pairs, sh).where(F.lit(False))

    monkeypatch.setattr(dd, "jaccard_on_pairs", no_overlap)
    t1 = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [(i, t1) for i in range(1, 7)]
    df = spark.createDataFrame(rows, "id long, content string")
    out = dd.minhash_lsh_pairs(
        df, "content", "id",
        num_perm=16, bands=4, shingle_n=3,
        verify_threshold=0.5,
        max_bucket_size=3,  # identical docs -> every bucket oversized
    ).collect()
    # all duplicate docs land in oversized buckets -> star edges to the
    # min-id rep; with jaccard rows suppressed they must still survive
    got = {(r.id_a, r.id_b) for r in out}
    assert got == {(1, i) for i in range(2, 7)}
    assert all(r.jaccard == 0.0 for r in out)


# ----------------------------------------------------------- range agg key --
def test_range_agg_on_table_with_key_column(spark):
    """A match set that already carries a column named 'key' must not
    break the range agg's internal exploded bucket key."""
    from data_prepper_spark.query.dsl import bucket_agg_adhoc

    rows = [(i, f"k{i}", float(i)) for i in range(10)]
    df = spark.createDataFrame(rows, "doc_id long, key string, v double")
    out = bucket_agg_adhoc(
        df,
        {"range": {"field": "v", "ranges": [
            {"to": 3}, {"from": 3, "to": 7}, {"from": 7},
        ]}},
    ).orderBy(F.asc_nulls_first("from")).collect()
    assert [(r.key, r.doc_count) for r in out] == [
        ("*-3.0", 3), ("3.0-7.0", 4), ("7.0-*", 3),
    ]


# -------------------------------------------------------------- q5 hints --
def test_q5_broadcast_hints_nation_region_only(spark):
    """r5: supplier scales with SF, so the explicit broadcast hint stays
    only on the fixed-size dims (region + the nation-region lookup); AQE
    decides supplier at runtime (VERDICT r4 wrong #3)."""
    import __spark_entry__ as e

    df = e.queries()["q5_local_supplier"](spark, "/root/testdata/sf0.001")
    analyzed = df._jdf.queryExecution().analyzed().toString()
    # exactly two resolved broadcast hints: broadcast(region) and
    # broadcast(nation join region); none on supplier
    assert analyzed.count("ResolvedHint") == 2
    # result stays correct without the supplier hint
    assert df.count() > 0


# ---------------------------------------------------------- uap-core loader --
def test_user_agent_uap_loader_fidelity(spark, tmp_path):
    """r5: load_uap_rules + user_agent_uap implement uap-core semantics
    (first-match-wins ordering, $N replacement substitution, default
    capture groups, version-part joining, regex_flag i) against a
    uap-core-format fixture subset (VERDICT r4 next #4; the real
    regexes.yaml is network-unreachable here — vendoring it activates
    the same path)."""
    from data_prepper_spark.operators.enrich import user_agent

    fixture = r"""
user_agent_parsers:
  - regex: '(CriOS)/(\d+)\.(\d+)'
    family_replacement: 'Chrome Mobile iOS'
  - regex: '(Edg)e?/(\d+)\.(\d+)'
    family_replacement: 'Edge'
  - regex: '(Firefox)/(\d+)\.(\d+)'
  - regex: '(Chrome)/(\d+)\.(\d+)\.(\d+)'
os_parsers:
  - regex: 'Windows NT 10\.0'
    os_replacement: 'Windows'
    os_v1_replacement: '10'
  - regex: '(Android) (\d+)(?:\.(\d+))?'
  - regex: '(CPU iPhone OS|iPhone OS) (\d+)_(\d+)'
    os_replacement: 'iOS'
device_parsers:
  - regex: 'iPhone'
    device_replacement: 'iPhone'
  - regex: '(SM-[A-Z0-9]+)'
    device_replacement: 'Samsung $1'
  - regex: 'playstation (\d)'
    regex_flag: 'i'
    device_replacement: 'PlayStation $1'
"""
    p = tmp_path / "regexes.yaml"
    p.write_text(fixture)
    uas = [
        (0, "Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/537.36 "
            "Chrome/120.0.6099 Safari/537.36"),
        (1, "Mozilla/5.0 (Windows NT 10.0) Chrome/120.0.0 Safari/537.36 Edg/120.0"),
        (2, "Mozilla/5.0 (Linux; Android 13; SM-S911B) Chrome/113.0.0 Mobile"),
        (3, "Mozilla/5.0 (iPhone; CPU iPhone OS 16_5 like Mac OS X) CriOS/114.0 Mobile"),
        (4, "Mozilla/5.0 (PlayStation 5/SmartTV) AppleWebKit/605.1.15"),
        (5, "Mozilla/5.0 (X11; Linux x86_64; rv:121.0) Gecko/20100101 Firefox/121.0"),
        (6, None),
    ]
    df = spark.createDataFrame(uas, "id long, ua string")
    out = {
        r.id: r.user_agent
        for r in user_agent(df, "ua", regexes_yaml=str(p)).collect()
    }
    # default capture groups + version join
    assert (out[0].name, out[0].version) == ("Chrome", "120.0.6099")
    assert (out[0].os, out[0].os_version) == ("Windows", "10")
    # first-match-wins: Edge listed before Chrome
    assert out[1].name == "Edge" and out[1].version == "120.0"
    # $1 substitution in device_replacement; default-group os family
    assert out[2].device == "Samsung SM-S911B"
    assert (out[2].os, out[2].os_version) == ("Android", "13")
    # family_replacement + os_replacement + iPhone device
    assert out[3].name == "Chrome Mobile iOS"
    assert (out[3].os, out[3].os_version) == ("iOS", "16.5")
    assert out[3].device == "iPhone"
    # regex_flag: 'i' (pattern is lowercase, UA is not)
    assert out[4].device == "PlayStation 5"
    assert out[5].name == "Firefox" and out[5].version == "121.0"
    # null UA degrades to a null struct payload, not a crash
    assert out[6].original is None


# -------------------------------------------------- multimodal optional dep --
def test_decode_image_gate_without_pillow(spark):
    """fake=False raises the capability error when Pillow is absent."""
    from data_prepper_spark.operators import multimodal

    df = multimodal.attach_binary(
        spark.createDataFrame([(1, "x" * 64)], "id long, t string"), "t", "id"
    )
    if multimodal._have_pillow():
        pytest.skip("Pillow present: gate not applicable (real path tested below)")
    with pytest.raises(NotImplementedError, match="Pillow"):
        multimodal.decode_image(df, fake=False)


@pytest.mark.skipif(
    not __import__("importlib").util.find_spec("PIL"),
    reason="Pillow not installed: real image decode activates when it is",
)
def test_decode_image_real_with_pillow(spark):
    """r5: with Pillow importable the real decode path runs — valid PNGs
    yield true dimensions, garbage yields null columns per row."""
    import io

    from PIL import Image

    from data_prepper_spark.operators import multimodal

    buf = io.BytesIO()
    Image.new("L", (20, 30), color=128).save(buf, format="PNG")
    rows = [(1, bytearray(buf.getvalue())), (2, bytearray(b"not an image"))]
    df = spark.createDataFrame(rows, "id long, payload binary")
    got = {r.id: r for r in multimodal.decode_image(df, fake=False).collect()}
    assert (got[1].width, got[1].height) == (20, 30)
    assert abs(got[1].mean_luma - 128.0) < 1.0
    assert got[2].width is None and got[2].height is None


# ----------------------------------------------------------- OTLP decode --
def test_otlp_decode_roundtrip_and_corruption(spark):
    """r5: pure-Python OTLP wire decode (operators/otlp.py — the
    otel-proto-common analog, no spark-protobuf jar). Encoder->decoder
    roundtrip through Spark; corrupt payloads contribute zero rows."""
    from data_prepper_spark.operators.otlp import (
        decode_otlp_traces,
        encode_traces_payload,
    )

    spans = [
        dict(trace_id=b"\xaa" * 16, span_id=b"\x01" * 8, name="root",
             kind=2, start=1000, end=5000, status=0),
        dict(trace_id=b"\xaa" * 16, span_id=b"\x02" * 8,
             parent_span_id=b"\x01" * 8, name="child",
             start=1500, end=2500, status=2),
    ]
    good = encode_traces_payload("svcA", spans)
    rows = [(bytearray(good),), (bytearray(b"\xff\xfe garbage"),), (None,)]
    df = spark.createDataFrame(rows, "payload binary")
    got = {r.spanId: r for r in decode_otlp_traces(df).collect()}
    assert set(got) == {"01" * 8, "02" * 8}
    root, child = got["01" * 8], got["02" * 8]
    assert root.traceId == "aa" * 16 and root.parentSpanId is None
    assert root.name == "root" and root.kind == 2 and root.statusCode == 0
    assert (root.startTime, root.endTime, root.durationInNanos) == (1000, 5000, 4000)
    assert child.parentSpanId == "01" * 8 and child.serviceName == "svcA"
    assert child.statusCode == 2 and child.kind == 0  # proto3 default kind

    # decoded spans feed the trace operators directly (fill + edges)
    from data_prepper_spark.operators.trace import fill_trace_group

    spans_df = decode_otlp_traces(df).withColumn(
        "traceGroup", F.when(F.col("parentSpanId").isNull(), F.col("name"))
    )
    filled = {r.spanId: r.traceGroup for r in fill_trace_group(spans_df).collect()}
    assert filled["02" * 8] == "root"


# ------------------------------------------ uap path, existing target col --
def test_user_agent_uap_replaces_existing_target(spark, tmp_path):
    """The uap-core path replaces an existing ``target`` column in place,
    like the curated path's withColumn, instead of appending a second
    field of the same name."""
    from data_prepper_spark.operators.enrich import user_agent

    p = tmp_path / "regexes.yaml"
    p.write_text(
        "user_agent_parsers:\n"
        "  - regex: '(Firefox)/(\\d+)\\.(\\d+)'\n"
        "os_parsers: []\n"
        "device_parsers: []\n"
    )
    df = spark.createDataFrame(
        [(0, "old", "Mozilla/5.0 (X11) Gecko/20100101 Firefox/121.0", 7)],
        "id long, user_agent string, ua string, n int",
    )
    curated = user_agent(df, "ua")
    out = user_agent(df, "ua", regexes_yaml=str(p))
    assert out.columns == curated.columns == ["id", "user_agent", "ua", "n"]
    row = out.collect()[0]
    assert (row.user_agent.name, row.user_agent.version) == ("Firefox", "121.0")
    assert (row.id, row.n) == (0, 7)


# ------------------------------------------- composite cursor validation --
def test_composite_after_cursor_missing_source_raises(spark):
    """A composite ``after`` cursor without a value for every declared
    source is a descriptive ValueError naming the missing ones, not a
    bare KeyError."""
    from data_prepper_spark.query.dsl import bucket_agg_adhoc

    df = spark.createDataFrame([("py", 10), ("go", 30)], "lang string, doc_len long")
    spec = {"composite": {"sources": [
        {"lang": {"terms": {"field": "lang"}}},
        {"len": {"histogram": {"field": "doc_len", "interval": 25}}},
    ], "size": 5, "after": {"lang": "go"}}}
    with pytest.raises(ValueError, match=r"\['len'\]"):
        bucket_agg_adhoc(df, spec)
    spec["composite"]["after"]["len"] = 25.0
    assert [(r.lang, r.len) for r in bucket_agg_adhoc(df, spec).collect()] == [("py", 0.0)]
