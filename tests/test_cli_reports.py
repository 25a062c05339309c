"""CLI report/ad-hoc surface (reference main.go:547-598) and the
round-6 parse knobs: --summarizeti / --tifeeds / --ip report modes,
--kvseparator/--kvdelimiter custom KV template (parse_kv.go:18-21,
flags main.go:52-54), --fullparse key-union projection (main.go:56)."""

import json
import re
import shutil

import pytest

import main as M
from logboost_spark.fixtures.lookups import build_lookup_dfs
from logboost_spark.operators.ti_build import summarize_ti, ti_feed_listing


def _last_json(capsys):
    return json.loads(capsys.readouterr().out.strip().splitlines()[-1])


def test_cli_requires_input_output(capsys):
    assert M.main([]) == 2
    assert M.main(["--input", "/nonexistent"]) == 2


@pytest.mark.parametrize("groups", ["0", "-2"])
@pytest.mark.parametrize("group_col", [[], ["--group-col", "grp"]])
def test_cli_rejects_groups_below_one(tmp_path, capsys, groups, group_col):
    """No commit group to write: rc 2 with a message, nothing written."""
    from logboost_spark.fixtures.transcripts import fixture_path

    out = tmp_path / "out"
    argv = ["--input", fixture_path("sf0.001"), "--output", str(out),
            "--groups", groups, *group_col]
    assert M.main(argv) == 2
    assert "--groups" in capsys.readouterr().err
    assert not out.exists()


def test_cli_ip_echo(spark, capsys):
    """--ip runs the pipeline's F2 extraction on the literal and echoes
    the result (reference main.go:588-598)."""
    assert M.main(["--ip", "8.8.8.8"]) == 0
    assert capsys.readouterr().out.strip() == "8.8.8.8"
    # first-public-else-first: the public one wins over the private
    assert M.main(["--ip", "from 10.0.0.1 to 93.184.216.34 ok"]) == 0
    assert capsys.readouterr().out.strip() == "93.184.216.34"
    # private-only input still extracts (class pvt, not noip)
    assert M.main(["--ip", "10.1.2.3"]) == 0
    assert capsys.readouterr().out.strip() == "10.1.2.3"
    # invalid → error like the reference
    assert M.main(["--ip", "no address here"]) == 2
    assert "Invalid IP Address" in capsys.readouterr().err


def test_cli_summarizeti(spark, capsys):
    rc = M.main(["--summarizeti"])
    assert rc == 0
    res = _last_json(capsys)
    ti = build_lookup_dfs(spark)["ti"]
    assert res["distinct_ips"] == summarize_ti(ti).first()["distinct_ips"]
    assert sum(res["category_counts"].values()) == ti.count()


def test_cli_summarizeti_with_intelfile(spark, tmp_path, capsys):
    """--intelfile composes with the report: custom indicators count."""
    intel = tmp_path / "intel.txt"
    intel.write_text("# c\n198.18.255.1\n198.18.255.2\n")
    base = summarize_ti(build_lookup_dfs(spark)["ti"]).first()["distinct_ips"]
    rc = M.main([
        "--summarizeti", "--intelfile", str(intel),
        "--intelname", "custom", "--inteltype", "suspicious",
    ])
    assert rc == 0
    assert _last_json(capsys)["distinct_ips"] == base + 2


def test_cli_tifeeds(spark, capsys):
    rc = M.main(["--tifeeds"])
    assert rc == 0
    res = _last_json(capsys)
    want = {
        r.feed_name: (r.distinct_ips, r.rows)
        for r in ti_feed_listing(build_lookup_dfs(spark)["ti"]).collect()
    }
    got = {f["feed_name"]: (f["distinct_ips"], f["rows"]) for f in res["feeds"]}
    assert got == want
    names = [f["feed_name"] for f in res["feeds"]]
    assert names == sorted(names)


@pytest.fixture()
def kvdir(tmp_path):
    d = tmp_path / "kvlogs"
    d.mkdir()
    (d / "app.log").write_text(
        "timestamp:2024-01-01T00:00:12;source:web;client:203.0.113.9;"
        'status:403\n'
        'timestamp:2024-01-01T00:00:20;source:auth;user:bob;'
        'action:"failed login"\n'
        "timestamp:2024-01-01T00:00:31;source:db;query_ms:154;rows_read:12\n"
    )
    return str(d)


def test_cli_kv_separator_delimiter(spark, kvdir, tmp_path, capsys):
    """'k:v;' logs parse as KV only under the custom template; the sink
    fields map carries the split pairs with quotes stripped."""
    from logboost_spark.plans.checkpoint import read_sinks

    out = str(tmp_path / "sinks")
    rc = M.main([
        "--input", kvdir, "--input-format", "logs", "--rawtxt",
        "--output", out, "--groups", "1", "--no-whois", "--no-idb",
        "--kvseparator", ":", "--kvdelimiter", ";",
    ])
    assert rc == 0
    rows = read_sinks(spark, out).select("format", "fields").collect()
    assert len(rows) == 3
    assert all(r.format == "kv" for r in rows)
    by_src = {r.fields["source"]: dict(r.fields) for r in rows}
    assert by_src["web"]["client"] == "203.0.113.9"
    assert by_src["auth"]["action"] == "failed login"  # quotes stripped
    assert by_src["db"]["query_ms"] == "154"
    # value keeps separators past the first (the timestamp's colons)
    assert by_src["web"]["timestamp"] == "2024-01-01T00:00:12"

    # default template on the same input: no '=' pairs → raw
    out2 = str(tmp_path / "sinks_default")
    rc = M.main([
        "--input", kvdir, "--input-format", "logs", "--rawtxt",
        "--output", out2, "--groups", "1", "--no-whois", "--no-idb",
    ])
    assert rc == 0
    rows2 = read_sinks(spark, out2).select("format").collect()
    assert all(r.format == "raw" for r in rows2)


def test_cli_fullparse(spark, kvdir, tmp_path, capsys):
    """--fullparse projects the fields map to the key UNION across every
    record (reference -fullparse two-pass, main.go:56): keys unique to
    later records become real columns; without the flag the sink keeps
    the map column."""
    from logboost_spark.plans.checkpoint import read_sinks

    out_full = str(tmp_path / "sinks_full")
    rc = M.main([
        "--input", kvdir, "--input-format", "logs", "--rawtxt",
        "--output", out_full, "--groups", "1", "--no-whois", "--no-idb",
        "--kvseparator", ":", "--kvdelimiter", ";", "--fullparse",
    ])
    assert rc == 0
    full = read_sinks(spark, out_full)
    # union keys from ALL records (source/timestamp on every line;
    # client/status only on line 1, user/action line 2, query_ms/rows_read
    # line 3) are columns now; the map column is gone
    for col in ["timestamp", "source", "client", "status", "user",
                "action", "query_ms", "rows_read", "EXTRA_KEYS"]:
        assert col in full.columns, col
    assert "fields" not in full.columns
    rows = {r["source"]: r for r in full.collect()}
    assert rows["web"]["client"] == "203.0.113.9"
    assert rows["db"]["query_ms"] == "154"
    # keys absent from a record are null columns, never EXTRA_KEYS
    assert rows["db"]["user"] is None
    assert all((r["EXTRA_KEYS"] or "") == "" for r in rows.values())

    out_shallow = str(tmp_path / "sinks_map")
    rc = M.main([
        "--input", kvdir, "--input-format", "logs", "--rawtxt",
        "--output", out_shallow, "--groups", "1", "--no-whois", "--no-idb",
        "--kvseparator", ":", "--kvdelimiter", ";",
    ])
    assert rc == 0
    shallow = read_sinks(spark, out_shallow)
    assert "fields" in shallow.columns
    assert "query_ms" not in shallow.columns


def test_cli_fullparse_keeps_keys_named_like_layout_columns(spark, tmp_path, capsys):
    """Parsed keys named group/sink/SourceFile come out as <key>_parsed:
    the commit-group and route partition columns and the combine sink's
    SourceFile would otherwise overwrite the parsed values."""
    from logboost_spark.plans.checkpoint import read_sinks
    from logboost_spark.plans.route import SINKS

    d = tmp_path / "kvlogs"
    d.mkdir()
    (d / "app.log").write_text(
        "source:web;group:admins;sink:kafka;SourceFile:upload.csv\n"
        "source:db;group:ops;sink:s3;SourceFile:dump.sql\n"
    )
    out = str(tmp_path / "sinks")
    rc = M.main([
        "--input", str(d), "--input-format", "logs", "--rawtxt",
        "--output", out, "--groups", "2", "--no-whois", "--no-idb",
        "--kvseparator", ":", "--kvdelimiter", ";", "--fullparse", "--combine",
    ])
    assert rc == 0
    want = {
        "web": ("admins", "kafka", "upload.csv"),
        "db": ("ops", "s3", "dump.sql"),
    }
    parsed = ["group_parsed", "sink_parsed", "SourceFile_parsed"]
    sinks = read_sinks(spark, out)
    combined = spark.read.parquet(out + "/combined")
    for df in (sinks, combined):
        rows = df.collect()
        assert {r["source"]: tuple(r[c] for c in parsed) for r in rows} == want
        assert {r["group"] for r in rows} <= {0, 1}
        assert {r["sink"] for r in rows} <= set(SINKS)
    assert all(r["SourceFile"].endswith(".parquet") for r in combined.collect())


def test_cli_rerun_with_fewer_groups_keeps_one_bucketing(spark, tmp_path, capsys):
    """A run with --groups 2 into the output of a --groups 4 run (no
    --resume) uncommits groups 2 and 3: the manifests and the committed
    reader hold the input once, not a mix of two bucketings."""
    from logboost_spark.fixtures.transcripts import fixture_path
    from logboost_spark.plans.checkpoint import committed_groups, read_sinks

    src, out = fixture_path("sf0.001"), str(tmp_path / "sinks")
    turns = spark.read.parquet(src).count()
    for groups in ("4", "2"):
        argv = ["--input", src, "--output", out, "--groups", groups,
                "--no-whois", "--no-idb", "--no-parse"]
        assert M.main(argv) == 0
    assert committed_groups(out) == {0, 1}
    assert sum(_last_json(capsys)["sink_counts"].values()) == turns
    assert read_sinks(spark, out).count() == turns


def test_cli_combine_source_file_is_relative_to_output(spark, tmp_path, capsys):
    """--combine's SourceFile is the sink file's path under --output, so
    the same committed output combines to the same values wherever it
    sits."""
    from logboost_spark.fixtures.transcripts import fixture_path

    src = fixture_path("sf0.001")
    flags = ["--groups", "2", "--no-whois", "--no-idb", "--no-parse", "--combine"]
    near = str(tmp_path / "a")
    far = str(tmp_path / "deeper" / "nested" / "b")
    assert M.main(["--input", src, "--output", near, *flags]) == 0
    shutil.copytree(near, far, ignore=shutil.ignore_patterns("combined"))
    assert M.main(["--input", src, "--output", far, "--resume", *flags]) == 0
    capsys.readouterr()

    def source_files(out):
        rows = spark.read.parquet(out + "/combined").select(
            "conv_id", "turn_idx", "SourceFile"
        ).collect()
        return sorted(tuple(r) for r in rows)

    got = source_files(near)
    assert got == source_files(far)
    assert all(
        re.fullmatch(r"data/group=[01]/sink=\w+/part-[^/]+\.parquet", f)
        for _, _, f in got
    )


def test_cli_buildti_and_updateti(spark, tmp_path, capsys):
    """Reference -buildti/-updateti (main.go:503-515 → BuildThreatDB):
    feed files ingest with IngestFile line semantics (comment/blank skip,
    first IPv4, private filter, insert-or-ignore); category comes from
    the feed's subdirectory; -updateti merges into the existing table."""
    fd = tmp_path / "feeds"
    (fd / "malware").mkdir(parents=True)
    (fd / "tor_nodes.txt").write_text("# tor feed\n8.8.8.8\n10.0.0.1\n8.8.8.8\n\n")
    (fd / "malware" / "bad_ips.txt").write_text("1.2.3.4 seen today\n5.6.7.8\n")
    out = str(tmp_path / "tidb")
    rc = M.main(["--buildti", "--feeddir", str(fd), "--output", out])
    assert rc == 0
    res = _last_json(capsys)
    assert res["feeds_ingested"] == 2
    assert res["rows"] == 3 and res["distinct_ips"] == 3
    rows = {
        (r.ip, r.feed_name, r.category)
        for r in spark.read.parquet(out + "/ti.parquet").collect()
    }
    assert rows == {
        ("8.8.8.8", "tor_nodes", "unknown"),
        ("1.2.3.4", "bad_ips", "malware"),
        ("5.6.7.8", "bad_ips", "malware"),
    }
    # update: an extra feed, one indicator overlapping an existing one
    (fd / "extra.txt").write_text("9.9.9.9\n8.8.8.8\n")
    rc = M.main(["--updateti", "--feeddir", str(fd), "--output", out])
    assert rc == 0
    res2 = _last_json(capsys)
    assert res2["rows"] == 5 and res2["distinct_ips"] == 4
    # flag hygiene
    assert M.main(["--buildti", "--output", out]) == 2
    assert M.main(["--buildti", "--feeddir", str(tmp_path / "empty"), "--output", out]) == 2


def test_cli_no_ti(spark, tmp_path, capsys):
    """--no-ti: enrich emits no lb_ThreatFeeds, so routing drops its threat
    branch; every input row still lands in exactly one sink, and the
    per-sink counts match the oracle's threat-less routing."""
    from logboost_spark import oracle as O
    from logboost_spark.fixtures.transcripts import fixture_path

    src = fixture_path("sf0.001")
    out = str(tmp_path / "sinks")
    rc = M.main(["--input", src, "--output", out, "--groups", "2", "--no-ti"])
    assert rc == 0
    counts = _last_json(capsys)["sink_counts"]
    pdf = spark.read.parquet(src).toPandas()
    assert counts["threat"] == 0
    assert sum(counts.values()) == len(pdf)
    want = {}
    for r in pdf.itertuples():
        e = {k: v for k, v in O.enrich_text(r.text).items() if not k.startswith("lb_Threat")}
        s = O.route_category({**e, "role": r.role, "tool": r.tool})
        want[s] = want.get(s, 0) + 1
    assert {k: v for k, v in counts.items() if v} == want


def test_cli_json_non_finite_number(spark, tmp_path, capsys):
    """One turn whose JSON holds a number overflowing float64 must not
    abort a parsing run: the line is not JSON, so it keeps the
    {"line": text} fields and is enriched and routed as usual."""
    from pyspark.sql import functions as F

    from logboost_spark.plans.checkpoint import read_sinks

    bad = '{"src": "8.8.8.8", "n": 1e400}'
    rows = [
        ("c1", 0, "user", "none", "hello from 10.0.0.1"),
        ("c1", 1, "assistant", "none", bad),
        ("c2", 0, "user", "none", '{"src": "8.8.4.4", "n": 2}'),
    ]
    src = str(tmp_path / "turns.parquet")
    (
        spark.createDataFrame(
            rows, "conv_id string, turn_idx int, role string, tool string, text string"
        )
        .withColumn("ts", F.lit("2023-06-01 00:00:00").cast("timestamp"))
        .write.parquet(src)
    )
    out = str(tmp_path / "sinks")
    assert M.main(["--input", src, "--output", out, "--groups", "2"]) == 0
    assert sum(_last_json(capsys)["sink_counts"].values()) == 3
    got = {r.text: r for r in read_sinks(spark, out).collect()}
    assert got[bad].fields == {"line": bad}
    assert got[bad].lb_IP == "8.8.8.8"
    assert got['{"src": "8.8.4.4", "n": 2}'].fields == {"src": "8.8.4.4", "n": "2"}


def test_cli_input_name_with_glob_characters(spark, tmp_path, capsys):
    """The batch --input is a plain path, not a Hadoop glob: a parquet
    file named t[1].parquet is read, with the counts of the same file
    under a plain name."""
    import shutil

    from logboost_spark.fixtures.transcripts import fixture_path

    src = fixture_path("sf0.001")
    odd = str(tmp_path / "t[1].parquet")
    shutil.copy(src, odd)
    flags = ["--no-whois", "--no-idb", "--no-parse", "--groups", "2"]
    counts = []
    for path, name in ((odd, "odd"), (src, "plain")):
        rc = M.main(["--input", path, "--output", str(tmp_path / name), *flags])
        assert rc == 0
        counts.append(_last_json(capsys)["sink_counts"])
    assert counts[0] == counts[1]
    assert sum(counts[0].values()) == 2000
