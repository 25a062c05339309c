"""Format router + per-format extraction (P1-P11)."""

from pyspark.sql import functions as F

from logboost_spark.fixtures import transcripts as TR
from logboost_spark.parsers.formats import detect_format, parse_stage

SAMPLES = {
    "clf_common": '203.0.113.7 - frank [10/Oct/2000:13:55:36 -0700] "GET /x HTTP/1.0" 200 2326',
    "clf_combined": '203.0.113.7 - frank [10/Oct/2000:13:55:36 -0700] "GET /x HTTP/1.0" 200 2326 "http://r.example.com" "Mozilla/5.0"',
    "syslog_generic": "Jun 27 18:19:37 ip-172-31-82-74 systemd[1]: Started Session 1752 of user root.",
    "syslog_rfc3164": "<6>Sep 14 14:12:51 10.1.1.143 su: 'su root' failed",
    "syslog_rfc5424": "<34>1 2003-10-11T22:14:15.003Z mymachine.example.com app - ID47 - BOM event",
    "cef": "CEF:0|SecVendor|ThreatMgr|1.0|100|detected|5|src=203.0.113.9 dst=10.1.1.4 spt=1232",
    "kv": 'timestamp="Jun 12 2023 00:00:00.000", source=host1, ip=203.0.113.5, action=allow',
    "json": '{"type":"accesslog","remoteIP":"203.0.113.4","elapsed":834,"nested":{"k":"v"},"ok":true}',
    "json_multi": '{"Records":[{"eventName":"Login","sourceIPAddress":"203.0.113.2","requestID":7}]}',
    "iis_w3c": "#Fields: date time c-ip cs-method sc-status\n2023-06-01 00:00:00 203.0.113.3 GET 200",
    "raw": "completely unstructured line with no recognizable format",
}

#: JSON lines holding a number Go's encoding/json rejects
NON_FINITE = [
    '{"src": "8.8.8.8", "n": 1e400}',
    '{"n": -1e400}',
    '{"n": NaN}',
    '{"n": Infinity}',
    '{"n": -Infinity}',
]

#: JSON float token -> its FormatFloat(v, 'E', -1, 64)
FLOATS = {
    "0.1": "1E-01",
    "123456789.0": "1.23456789E+08",
    "1.7976931348623157e308": "1.7976931348623157E+308",
    "1.5e3": "1.5E+03",
    "3.14159265": "3.14159265E+00",
    "5e-324": "5E-324",
    "[2.5, 0.1234567891]": "[2.5E+00 1.234567891E-01]",
}

#: records with disjoint key sets
DISJOINT_KEYS = ['{"a":1,"b":{"c":2}}', '{"a":9,"d":"x"}', '{"e":true}']


def test_detection_precedence(spark):
    rows = [(fmt, text) for fmt, text in SAMPLES.items()]
    df = spark.createDataFrame(rows, "want string, text string")
    got = df.select("want", detect_format(F.col("text")).alias("got")).collect()
    for r in got:
        assert r.got == r.want, (r.want, r.got)


def test_field_extraction(spark):
    rows = [(fmt, text) for fmt, text in SAMPLES.items()]
    df = parse_stage(spark.createDataFrame(rows, "want string, text string"))
    fields = {r.want: r.fields for r in df.select("want", "fields").collect()}

    assert fields["clf_common"]["client"] == "203.0.113.7"
    assert fields["clf_common"]["httpstatus"] == "200"
    assert fields["clf_combined"]["useragent"] == "Mozilla/5.0"
    assert fields["syslog_rfc3164"]["HOST"] == "10.1.1.143"
    assert fields["syslog_rfc5424"]["TIMESTAMP"] == "2003-10-11T22:14:15.003Z"
    assert fields["syslog_generic"]["PROCESS"] == "systemd"
    assert fields["syslog_generic"]["PROCID"] == "1"
    assert fields["cef"]["CEF_VENDOR"] == "SecVendor"
    assert fields["cef"]["src"] == "203.0.113.9"
    assert fields["cef"]["CEF_EVENT_SEVERITY"] == "5"
    assert fields["kv"]["ip"] == "203.0.113.5"
    assert fields["kv"]["timestamp"] == "Jun 12 2023 00:00:00.000"
    assert fields["json"]["remoteIP"] == "203.0.113.4"
    assert fields["json"]["nested_k"] == "v"  # deep flatten, parent_child
    assert fields["json"]["ok"] == "true"  # Go bool stringify
    assert fields["json_multi"]["sourceIPAddress"] == "203.0.113.2"
    assert fields["iis_w3c"]["c-ip"] == "203.0.113.3"
    assert fields["raw"]["line"].startswith("completely")


def test_all_generator_templates_detected(spark):
    """Every fixture template lands on its intended parser family."""
    df = parse_stage(spark.createDataFrame(TR.gen_pandas(1200)))
    counts = {r.format: r.cnt for r in df.groupBy("format").agg(F.count("*").alias("cnt")).collect()}
    # 12 templates; clf x2, syslog x3, json x2(+azure)=3, cef, kv, iis, raw
    assert set(counts) == {
        "clf_common", "clf_combined", "syslog_generic", "syslog_rfc3164",
        "syslog_rfc5424", "cef", "kv", "json", "json_multi", "iis_w3c", "raw",
    }


def test_cef_syslog_prefix_variants(spark):
    """The 4 CEF delivery variants (parse_cef.go:366-387): prefix fields
    become columns; bare CEF has none."""
    ext = "src=10.0.0.1 act=Allow"
    rows = [
        ("bare", f"CEF:0|FP|FW|6.8|70018|Conn|0|{ext}"),
        ("r3164", f"<6>Sep 14 14:12:51 10.1.1.143 CEF:0|FP|FW|6.8|70018|Conn|0|{ext}"),
        ("r5424", f"<34>1 2003-10-11T22:14:15.003Z host.example.com CEF:0|FP|FW|6.8|70018|Conn|0|{ext}"),
        ("generic", f"Jun 27 18:19:37 fw-gw-7 secd[42]: CEF:0|FP|FW|6.8|70018|Conn|0|{ext}"),
    ]
    df = parse_stage(spark.createDataFrame(rows, "name string, text string"))
    got = {r.name: (r.format, dict(r.fields)) for r in df.collect()}
    for name in got:
        assert got[name][0] == "cef"
        assert got[name][1]["CEF_VENDOR"] == "FP"
        assert got[name][1]["src"] == "10.0.0.1"
    assert "HOST" not in got["bare"][1]
    assert got["r3164"][1]["PRI"] == "<6>" and got["r3164"][1]["HOST"] == "10.1.1.143"
    assert got["r5424"][1]["VER"] == "1"
    assert got["r5424"][1]["HOST"] == "host.example.com"
    assert got["generic"][1]["PROCESS"] == "secd" and got["generic"][1]["PROCID"] == "42"


def test_parse_plan_has_no_python(spark, lookups, tmp_path, monkeypatch):
    """The JSON flatten is a JVM function: the plans of run_pipeline's
    chunk jobs and of parse_stage call json_flatten and have no Python
    evaluation node, so a parse starts no Python worker."""
    from logboost_spark.plans import checkpoint
    from logboost_spark.plans.pipeline import run_pipeline

    src = spark.read.parquet(TR.fixture_path("sf0.001"))
    plans = [parse_stage(src)._jdf.queryExecution().executedPlan().toString()]
    commit = checkpoint.commit_chunk

    def planned(sub, out_dir, chunk, parts, post_shuffle, *rest):
        def recorded(df):
            out = post_shuffle(df)
            plans.append(out._jdf.queryExecution().executedPlan().toString())
            return out

        return commit(sub, out_dir, chunk, parts, recorded, *rest)

    monkeypatch.setattr(checkpoint, "commit_chunk", planned)
    run_pipeline(src, lookups, str(tmp_path / "out"), n_groups=4, use_whois=False, use_idb=False)
    assert len(plans) == 3
    for plan in plans:
        assert "json_flatten(" in plan
        assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan, plan


def test_json_non_finite_number_is_not_json(spark):
    """NaN, ±Infinity and numbers overflowing float64 are not JSON (Go's
    encoding/json rejects them): such a line keeps the {"line": text}
    fallback of any unparseable JSON line instead of failing the task."""
    ok = '{"src": "8.8.8.8", "n": 1.5e3}'
    df = parse_stage(spark.createDataFrame([(t,) for t in NON_FINITE + [ok]], "text string"))
    got = {r.text: (r.format, r.fields) for r in df.collect()}
    for t in NON_FINITE:
        assert got[t] == ("json", {"line": t}), t
    assert got[ok] == ("json", {"src": "8.8.8.8", "n": "1.5E+03"})


def test_json_float_shortest_round_trip(spark):
    """JSON floats print as Go's FormatFloat(v, 'E', -1, 64): the
    shortest digits that round-trip, an exponent of at least two digits;
    arrays print their elements the same way, space-separated."""
    lines = [f'{{"n": {v}}}' for v in FLOATS]
    df = parse_stage(spark.createDataFrame([(t,) for t in lines], "text string"))
    got = {r.text: r.fields["n"] for r in df.collect()}
    assert got == {f'{{"n": {v}}}': s for v, s in FLOATS.items()}


def test_json_lone_surrogate_becomes_replacement_char(spark):
    """A truncated line can end a string in half a surrogate pair. Go's
    encoding/json decodes an unpaired surrogate escape as U+FFFD, in
    keys and values alike; a valid pair stays one character."""
    lines = {
        '{"a":"\\ud800x"}': {"a": "\ufffdx"},
        '{"\\udc00k":"v","b":["\\ud83d"]}': {"\ufffdk": "v", "b": "[\ufffd]"},
        '{"a":"\\ud83d\\ude00","b":"\\ud83d\\u0041"}': {"a": "\U0001f600", "b": "\ufffdA"},
    }
    df = parse_stage(spark.createDataFrame([(t,) for t in lines], "text string"))
    got = {r.text: dict(r.fields) for r in df.collect()}
    assert got == lines


def test_json_array_of_objects_prints_go_map(spark):
    """An object inside an array prints as Go's fmt prints a map:
    map[k:v ...] with sorted keys, each value formatted as an array
    element (a string as is, a float in 'E' form, nested maps and
    arrays alike)."""
    line = '{"a":[{"n":1.5,"k":"v","m":{"z":null,"y":[true]}},{}],"b":{"c":[{"x":1}]}}'
    df = parse_stage(spark.createDataFrame([(line,)], "text string"))
    assert dict(df.first().fields) == {
        "a": "[map[k:v m:map[y:[true] z:ErrorNil] n:1.5E+00] map[]]",
        "b_c": "[map[x:1]]",
    }


def test_json_flatten_matches_oracle_on_parser_cases(flatten_mismatches):
    """Every JSON line of this file: the JVM flatten gives the Python
    oracle's entries, in the oracle's order."""
    lines = (
        [SAMPLES["json"], SAMPLES["json_multi"]]
        + NON_FINITE
        + ['{"src": "8.8.8.8", "n": 1.5e3}']
        + [f'{{"n": {v}}}' for v in FLOATS]
        + DISJOINT_KEYS
        + ['{"a":"\\ud800x"}', '{"a":[{"k":"v","n":1.5}]}']
    )
    assert flatten_mismatches(lines) == []


#: parse JSON, stop the session and its JVM, start a new one, parse again
_TWO_JVMS = """
import sys
sys.path.insert(0, sys.argv[1])
from pyspark import SparkContext
from logboost_spark.parsers.formats import parse_stage
from logboost_spark.session import get_spark

for jvm in (1, 2):
    spark = get_spark(cores=1)
    df = spark.createDataFrame([('{"a":{"b":1.5}}',)], "text string")
    print(jvm, dict(parse_stage(df).first().fields), flush=True)
    spark.stop()
    gateway = SparkContext._gateway
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    gateway.proc.stdin.close()  # the JVM exits when its stdin closes
    gateway.proc.wait(timeout=60)
"""


def test_parse_on_a_second_jvm_in_one_process():
    """A process that stops its JVM and starts another parses JSON on
    both: the flatten is registered in each session, not bound to the
    first JVM."""
    import os
    import subprocess
    import sys

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(os.environ, SPARK_DRIVER_MEMORY="1g")
    done = subprocess.run(
        [sys.executable, "-c", _TWO_JVMS, root],
        capture_output=True, text=True, timeout=600, env=env,
    )
    assert done.returncode == 0, done.stderr[-3000:]
    lines = [ln for ln in done.stdout.splitlines() if ln[:2] in ("1 ", "2 ")]
    assert lines == ["1 {'a_b': '1.5E+00'}", "2 {'a_b': '1.5E+00'}"], done.stdout


def test_deep_keys_union_and_full_project(spark):
    """-fullparse key union across records with disjoint key sets
    (helpers/helpers.go:55-57)."""
    from logboost_spark.parsers.extra_keys import deep_keys, shallow_project

    df = parse_stage(spark.createDataFrame([(t,) for t in DISJOINT_KEYS], "text string"))
    assert deep_keys(df) == ["a", "b_c", "d", "e"]
    out = shallow_project(df, deep_keys(df)).collect()
    by_a = {r.a: r for r in out}
    assert by_a["1"].b_c == "2" and by_a["1"].d is None
    assert by_a["9"].d == "x"
    assert all(r.EXTRA_KEYS == "" for r in out)
    # shallow mode on the same input overflows unseen keys
    sh = shallow_project(df, ["a"]).collect()
    assert any("b_c:2, " in r.EXTRA_KEYS for r in sh)


def test_read_iis_w3c_file(spark, tmp_path):
    """S3/P2 per-file reader: #Fields directive names the columns
    (parse_iis_w3c.go:15-54)."""
    from logboost_spark.sources.readers import read_iis_w3c

    p = tmp_path / "w3c.log"
    p.write_text(
        "#Software: Microsoft IIS\n"
        "#Fields: date time c-ip cs-method sc-status\n"
        "2023-06-01 00:00:00 203.0.113.3 GET 200\n"
        "2023-06-01 00:00:01 203.0.113.4 POST 503\n"
        "#Comment: skipped\n"
        "short bad row\n"
    )
    out = read_iis_w3c(spark, str(p))
    rows = sorted(out.collect(), key=lambda r: r["c-ip"])
    assert [r["c-ip"] for r in rows] == ["203.0.113.3", "203.0.113.4"]
    assert rows[1]["cs-method"] == "POST" and rows[1]["sc-status"] == "503"
    # IIS comma style
    p2 = tmp_path / "iis.log"
    p2.write_text("#Fields: date,c-ip,status\n2023-06-01,10.0.0.1,200\n")
    out2 = read_iis_w3c(spark, str(p2)).collect()
    assert out2[0]["c-ip"] == "10.0.0.1"


def test_gzip_source_transparent(spark, tmp_path):
    """S2 (helpers/helpers.go:1036-1070 magic-byte gzip peek): Spark reads
    .gz transparently through the same reader paths — CSV and line-text
    content must equal the uncompressed fixture byte for byte."""
    import gzip

    from logboost_spark.sources.readers import read_csv, read_text

    csv_body = "h1,h2\na,1\nb,2\n"
    log_body = "alpha 1.2.3.4\nbeta 5.6.7.8\n"
    (tmp_path / "t.csv").write_text(csv_body)
    with gzip.open(tmp_path / "t.csv.gz", "wt") as f:
        f.write(csv_body)
    (tmp_path / "t.log").write_text(log_body)
    with gzip.open(tmp_path / "t.log.gz", "wt") as f:
        f.write(log_body)

    plain = read_csv(spark, str(tmp_path / "t.csv")).orderBy("h1").collect()
    gz = read_csv(spark, str(tmp_path / "t.csv.gz")).orderBy("h1").collect()
    assert plain == gz and len(gz) == 2

    plain_t = read_text(spark, str(tmp_path / "t.log")).orderBy("line").collect()
    gz_t = read_text(spark, str(tmp_path / "t.log.gz")).orderBy("line").collect()
    assert plain_t == gz_t and len(gz_t) == 2


def test_detect_gates_equal_ungated_cascade(spark):
    """The substring gates in detect_format are strictly implied by their
    regexes: gated and ungated cascades must route IDENTICALLY on every
    sample, on generator output, and on adversarial near-miss strings
    (tabs as \\s, brackets without quotes, = without kv shape, CEF in
    the middle, angle-bracket non-syslog)."""
    from pyspark.sql import Column
    from logboost_spark.parsers.formats import (
        CLF_COMBINED_RE,
        CLF_COMMON_RE,
        KV_PAIR_RE,
        SYSLOG_3164_RE,
        SYSLOG_5424_RE,
        SYSLOG_GENERIC_RE,
        _anchored,
    )

    def ungated(text: Column) -> Column:
        t = F.trim(text)
        return (
            F.when(t.startswith("#Fields:"), F.lit("iis_w3c"))
            .when(t.startswith('{"Records":['), F.lit("json_multi"))
            .when(t.startswith("{") & t.endswith("}"), F.lit("json"))
            .when(t.rlike(r"(^|\s|>)CEF:\d+\|"), F.lit("cef"))
            .when(t.rlike(_anchored(CLF_COMBINED_RE)), F.lit("clf_combined"))
            .when(t.rlike(_anchored(CLF_COMMON_RE)), F.lit("clf_common"))
            .when(t.rlike("^" + SYSLOG_5424_RE), F.lit("syslog_rfc5424"))
            .when(t.rlike("^" + SYSLOG_3164_RE), F.lit("syslog_rfc3164"))
            .when(t.rlike(SYSLOG_GENERIC_RE), F.lit("syslog_generic"))
            .when(t.rlike(KV_PAIR_RE + r".*" + KV_PAIR_RE), F.lit("kv"))
            .otherwise(F.lit("raw"))
        )

    adversarial = [
        "1.2.3.4\t-\tu\t[10/Oct/2000:13:55:36]\t\"GET / HTTP/1.0\"\t200\t5",  # tabs as \s
        'brackets [here] but "no clf shape',
        "x=1",                      # single kv pair (needs two)
        "a=b c=d",                  # kv without comma terminators
        "midline CEF:notanumber|x",
        "<notpri> something",
        "< 34>1 2003-10-11T22:14:15.003Z h a - - -",
        "{unclosed json",
        'trailing brace only}',
        "",
        "   ",
        'say "quote" and [bracket] - - "GET /i HTTP/1.0" 200 9',
    ]
    rows = (
        [(v,) for v in SAMPLES.values()]
        + [(s,) for s in adversarial]
        + [(t,) for t in TR.gen_pandas(800)["text"].tolist()]
    )
    df = spark.createDataFrame(rows, "text string")
    bad = (
        df.select(
            "text",
            detect_format(F.col("text")).alias("gated"),
            ungated(F.col("text")).alias("ungated"),
        )
        .filter(F.col("gated") != F.col("ungated"))
        .collect()
    )
    assert not bad, [(r.text[:60], r.gated, r.ungated) for r in bad[:5]]


def test_kv_custom_separator_delimiter(spark):
    """P9 template knobs (parse_kv.go:18-21; -separator/-delimiter,
    main.go:52-54): 'k:v;' lines detect and parse under (':', ';'),
    fall to raw under the default ('=', ','); values keep separators
    past the first split and lose surrounding quotes."""
    line = 'ts:2024-01-01T10:20:30;src:auth;msg:"hello world";n:42'
    df = spark.createDataFrame([(line,)], "text string")
    custom = parse_stage(df, kv_separator=":", kv_delimiter=";").first()
    assert custom.format == "kv"
    assert dict(custom.fields) == {
        "ts": "2024-01-01T10:20:30",
        "src": "auth",
        "msg": "hello world",
        "n": "42",
    }
    default = parse_stage(df).first()
    assert default.format == "raw"
    # and the inverse: a default-template line under the custom knobs
    kv_line = "a=1,b=2"
    both = spark.createDataFrame([(kv_line,)], "text string")
    assert parse_stage(both).first().format == "kv"
    assert parse_stage(both, kv_separator=":", kv_delimiter=";").first().format == "raw"


def test_fullparse_key_collision_suffix(spark):
    """A parsed key that collides with a pipeline column ('ts' here) must
    project as '<key>_parsed' instead of emitting duplicate column names
    (--fullparse crashed on common keys like ts/role before round 6)."""
    from logboost_spark.parsers.extra_keys import deep_keys, shallow_project

    df = parse_stage(spark.createDataFrame(
        [("2030-01-01", "ts=2024-05-05,msg=hello,n=1")], "ts string, text string"
    ))
    out = shallow_project(df, deep_keys(df))
    assert len(out.columns) == len(set(out.columns))
    row = out.first()
    assert "ts_parsed" in out.columns and "msg" in out.columns
    assert row["ts"] == "2030-01-01"          # pipeline column untouched
    assert row["ts_parsed"] == "2024-05-05"   # parsed key suffixed
    assert row["msg"] == "hello"


def test_kv_knobs_single_char_only():
    """ADVICE r06: multi-char separator/delimiter would make detection
    (character class) and parsing (literal split) disagree — fail loudly."""
    import pytest

    from logboost_spark.parsers.formats import kv_pair_re

    assert kv_pair_re(":", ";")  # single chars fine
    with pytest.raises(ValueError, match="single characters"):
        kv_pair_re("::", ";")
    with pytest.raises(ValueError, match="single characters"):
        kv_pair_re("=", ", ")
