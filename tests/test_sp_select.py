"""Port of the reference SP query corpus:
tests/internal/include/sp_select_keys.h (+ callbacks sp_cb_functions.h)
over the 11-record samples fixture. Expected row counts / values are the
reference's own TEST_CHECK goldens.
"""

import pytest

SELECT_CASES = [
    ("SELECT * FROM STREAM:FLB;", 11),
    ("SELECT id, word2 FROM STREAM:FLB;", 11),
    ("SELECT * FROM STREAM:FLB WHERE bytes > 10.290;", 1),
    ("SELECT * FROM STREAM:FLB WHERE word2 = 'rlz' OR word3 = 'rlz';", 2),
    ("SELECT * FROM STREAM:FLB WHERE word2 = 'rlz' AND word3 IS NOT NULL;", 1),
    ("SELECT * FROM STREAM:FLB WHERE word3 IS NULL;", 1),
    ("SELECT * FROM STREAM:FLB WHERE bool != true;", 2),
    ("SELECT * FROM STREAM:FLB WHERE bool <> true;", 2),
    ("SELECT * FROM STREAM:FLB WHERE bytes <> 10;", 2),
    ("SELECT COUNT(*) AS c FROM STREAM:FLB;", 1),
    ("SELECT id FROM TAG:'no-matches' WHERE bytes > 10;", 0),
    ("SELECT id FROM TAG:'samples' WHERE bytes > 10;", 2),
    ("SELECT id FROM TAG:'sam*' WHERE bytes > 10;", 2),
    ("SELECT id FROM TAG:'samples' WHERE bytes = 10 AND @record.contains(word2);", 2),
    ("SELECT id FROM TAG:'samples' WHERE @record.contains(x);", 0),
]


@pytest.mark.parametrize("sql,expected", SELECT_CASES, ids=[c[0][:60] for c in SELECT_CASES])
def test_select_corpus_rowcounts(sp, sql, expected):
    assert sp.sql(sql).count() == expected


def test_aggregates_values(sp):
    row = sp.sql(
        "SELECT MIN(id) AS mn, MAX(id) AS mx, COUNT(*) AS c, "
        "SUM(bytes) AS s, AVG(bytes) AS a FROM STREAM:FLB;"
    ).collect()[0]
    assert row.mn == 0 and row.mx == 10 and row.c == 11
    assert row.s == pytest.approx(110.5)
    assert row.a == pytest.approx(110.5 / 11)


def test_groupby_bool(sp):
    rows = sp.sql(
        "SELECT bool, COUNT(*) AS c FROM STREAM:FLB "
        "WHERE word3 IS NOT NULL GROUP BY bool;"
    ).collect()
    got = {str(r["bool"]): r["c"] for r in rows}
    assert got == {"true": 8, "false": 2}


def test_count_k_counts_records_not_nonnull(sp):
    # COUNT(word2) counts records (flb_sp_aggregate_func.c:199-205)
    row = sp.sql("SELECT COUNT(word2) AS c FROM STREAM:FLB;").collect()[0]
    assert row.c == 11


def test_invalid_queries(sp):
    # sp_invalid_queries.h analogs: aggregate/bare-key mixes
    with pytest.raises(ValueError):
        sp.sql("SELECT word1, COUNT(*) FROM STREAM:FLB;")
    with pytest.raises(ValueError):
        sp.sql("SELECT *, COUNT(*) FROM STREAM:FLB;")
    with pytest.raises(SyntaxError):
        sp.sql("SELECT FROM STREAM:FLB;")


def test_create_stream_chaining(sp):
    sp.sql(
        "CREATE STREAM bigbytes WITH (tag='big') AS "
        "SELECT id, bytes FROM STREAM:FLB WHERE bytes > 10;"
    )
    assert sp.sql("SELECT COUNT(*) AS c FROM STREAM:bigbytes;").collect()[0].c == 2
    assert sp.sql("SELECT id FROM TAG:'big';").count() == 2


def test_snapshot_and_flush(sp):
    sp.sql("CREATE SNAPSHOT snap_t AS SELECT * FROM STREAM:FLB LIMIT 3;")
    flushed = sp.sql("FLUSH SNAPSHOT snap_t AS SELECT * FROM STREAM:FLB WHERE bytes > 10;")
    assert flushed.count() == 3  # trigger matched -> snapshot contents emitted
    not_flushed = sp.sql(
        "FLUSH SNAPSHOT snap_t AS SELECT * FROM STREAM:FLB WHERE bytes > 9999;"
    )
    assert not_flushed.count() == 0


INVALID_QUERIES = [
    # sp_invalid_queries.h, verbatim (minus the TAG:FLB unquoted form —
    # our dialect requires the quoted TAG:'pattern' the docs use)
    "SELECT id, MIN(id) FROM STREAM:FLB;",
    "SELECT *, COUNT(id) FROM STREAM:FLB;",
    "SELECT * FROM STREAM:FLB WHERE @record.some_random_func();",
    "SELECT id, MIN(id) FROM STREAM:FLB WINDOW TUMBLING (1 SECOND) GROUP BY bool;",
    "SELECT *, COUNT(id) FROM STREAM:FLB WINDOW TUMBLING (1 SECOND) GROUP BY bool;",
    "SELECT *, COUNT(bool) FROM STREAM:FLB WINDOW TUMBLING (1 SECOND) GROUP BY bool;",
    "SELECT *, bool, COUNT(bool) FROM STREAM:FLB WINDOW TUMBLING (1 SECOND) GROUP BY bool;",
]


@pytest.mark.parametrize("bad", INVALID_QUERIES, ids=[q[:55] for q in INVALID_QUERIES])
def test_invalid_query_corpus(sp, bad):
    with pytest.raises((ValueError, SyntaxError)):
        sp.sql(bad)


def test_record_time_function(sp):
    rows = sp.sql(
        "SELECT RECORD_TIME() AS rt, RECORD_TAG() AS rtag FROM STREAM:FLB WHERE bytes > 10;"
    ).collect()
    assert len(rows) == 2
    assert all(r.rtag == "samples" for r in rows)
    assert all(isinstance(r.rt, float) and r.rt > 0 for r in rows)


def test_snapshot_time_limit(sp):
    """time_limit eviction (flb_sp_snapshot.c:70-92): keep records within
    T seconds of the newest. Fixture stamps 1s-apart timestamps, so '5s'
    keeps max_ts-5s..max_ts = 6 records. The plan must NOT contain an
    unpartitioned window (scalar agg + broadcast instead)."""
    snap = sp.sql(
        "CREATE SNAPSHOT snap_tl WITH (time_limit='5s') AS SELECT * FROM STREAM:FLB;"
    )
    assert snap.count() == 6
    plan = snap._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan, plan


def test_is_null_parity_r12(sp, spark):
    """r12 review fixes, each checked against the reference's own
    fixtures: lowercase 'is null' parses (keywords are case-insensitive
    everywhere else); a MISSING key is not null — IS NULL false, IS NOT
    NULL true (pure negation). samples.json has 4 records without word3
    plus ONE explicit 'word3': null: cond_null counts only the explicit
    null, and the 'word2=rlz AND word3 IS NOT NULL' golden passes a
    record with no word3 at all."""
    assert sp.sql("select * from stream:FLB where word3 is null;").count() == 1
    assert sp.sql("select * from stream:FLB where word3 is not null;").count() == 10
    # statically-missing key on a TYPED stream: same negation semantics
    # (previously IS NULL was constant-true for missing static keys)
    from fluent_bit_spark.sp import SPContext

    ctx = SPContext()
    ctx.register_stream(
        "T", spark.createDataFrame([("a", 1.0), (None, 2.0)], "k string, v double")
    )
    assert ctx.sql("SELECT * FROM STREAM:T WHERE nosuchkey IS NULL;").count() == 0
    assert ctx.sql("SELECT * FROM STREAM:T WHERE nosuchkey IS NOT NULL;").count() == 2
    # present-but-null static value still IS NULL
    assert ctx.sql("SELECT * FROM STREAM:T WHERE k IS NULL;").count() == 1


def test_static_group_by_drops_missing_keys_r12(spark):
    """GROUP BY parity between typed and variant sources (r12 review
    fix): the reference skips records whose group key is missing
    (rbtree lookup fails — the 3-row sp_cb_functions.h golden). A typed
    NULL conflates missing with explicit null, so NULL-keyed rows drop;
    a key absent from the schema entirely yields an EMPTY result, not
    one big NULL group."""
    from fluent_bit_spark.sp import SPContext

    ctx = SPContext()
    ctx.register_stream(
        "T",
        spark.createDataFrame(
            [("a", 1.0), (None, 2.0), ("b", 3.0), ("a", 4.0)],
            "k string, v double",
        ),
    )
    rows = ctx.sql("SELECT k, SUM(v) AS s FROM STREAM:T GROUP BY k;").collect()
    assert {(r.k, r.s) for r in rows} == {("a", 5.0), ("b", 3.0)}
    assert ctx.sql(
        "SELECT nope, SUM(v) AS s FROM STREAM:T GROUP BY nope;"
    ).count() == 0


def test_aggregate_analysis_rejections_r12(sp):
    """r12 review fixes: RECORD_TAG()/RECORD_TIME() mixed with
    aggregates is an SP analysis error (the per-record columns are gone
    after groupBy().agg() — previously an unresolved-column
    AnalysisException); CREATE SNAPSHOT with aggregates/GROUP BY is
    rejected up front (snapshots buffer raw records — previously a raw
    KeyError from the compiler)."""
    import pytest as _pytest

    with _pytest.raises(ValueError, match="per-record"):
        sp.sql("SELECT COUNT(*), RECORD_TAG() FROM STREAM:FLB;")
    with _pytest.raises(ValueError, match="per-record"):
        sp.sql("SELECT RECORD_TIME(), AVG(bytes) FROM STREAM:FLB;")
    with _pytest.raises(ValueError, match="SNAPSHOT buffers records"):
        sp.sql(
            "CREATE SNAPSHOT snap_bad AS SELECT bool, COUNT(bool) "
            "FROM STREAM:FLB GROUP BY bool;"
        )


def _leaf_count(df) -> int:
    return df._jdf.queryExecution().analyzed().collectLeaves().size()


def _tagged_base(spark):
    """Three records whose tag is computed per row (unknown label)."""
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(1, "a", 5.0), (2, "b", 50.0), (3, "a", 500.0)], "id long, kind string, v double"
    )
    return df.withColumn("tag", F.concat(F.lit("base."), F.col("kind")))


def test_create_stream_chain_does_not_nest_earlier_streams(spark):
    """A CREATE STREAM result carries its literal tag, so a later
    TAG:'base.*' source leaves it out at compile time: the plan holds the
    base relation alone, however many CREATE STREAM statements ran."""
    from fluent_bit_spark.sp import SPContext

    ctx = SPContext()
    ctx.register_stream("base", _tagged_base(spark))
    for name in ("h1", "h2", "h3", "h4") * 2:
        ctx.sql(
            f"CREATE STREAM {name} WITH (tag='hot') AS "
            "SELECT id, v FROM TAG:'base.*' WHERE v > 10;"
        )
    out = ctx.sql("SELECT id FROM TAG:'base.*' WHERE v > 10;")
    assert _leaf_count(out) == 1
    assert ctx.stream_tags["h4"] == frozenset(["hot"])
    assert sorted(r.id for r in out.collect()) == [2, 3]
    assert sorted(r.id for r in ctx.sql("SELECT id FROM TAG:'hot';").collect()) == [2] * 4 + [3] * 4


@pytest.mark.parametrize("pattern", ["*", "base.*", "base.a", "hot.*", "hot.x", "user", "no-matches"])
def test_tag_source_matches_union_and_rlike(spark, pattern):
    """TAG: resolution by label returns the rows the old resolution did:
    a unionByName over every tagged stream filtered with rlike. Rows are
    compared without their null keys, because a stream that cannot match
    no longer null-fills the others' columns."""
    from collections import Counter
    from functools import reduce

    from pyspark.sql import functions as F

    from fluent_bit_spark.sp import SPContext
    from fluent_bit_spark.sp.compiler import tag_pattern_to_regex

    ctx = SPContext()
    ctx.register_stream("base", _tagged_base(spark))
    # no label, one literal tag per row
    ctx.register_stream(
        "user",
        spark.createDataFrame([(7, "user", "u1"), (8, "user.b", "u2")], "id long, tag string, note string"),
    )
    ctx.sql("CREATE STREAM hot WITH (tag='hot.x') AS SELECT id, v FROM TAG:'base.*' WHERE v > 10;")
    ctx.register_stream("untagged", spark.createDataFrame([(9,)], "id long"))

    reference = reduce(
        lambda a, b: a.unionByName(b, allowMissingColumns=True),
        [df for df in ctx.streams.values() if "tag" in df.columns],
    )
    want = reference.filter(F.col("tag").rlike(tag_pattern_to_regex(pattern)))
    got = ctx.sql(f"SELECT * FROM TAG:'{pattern}';")

    def rows(df):
        return Counter(
            frozenset((k, v) for k, v in r.asDict().items() if v is not None) for r in df.collect()
        )

    assert rows(got) == rows(want)
    if pattern == "no-matches":
        assert got.columns == reference.columns


def test_tag_source_no_label_matches(spark):
    """When every tagged stream has a known label and none matches, the
    source is empty with the columns of all tagged streams, and holds none
    of their plans."""
    from fluent_bit_spark.sp import SPContext

    ctx = SPContext()
    ctx.register_stream("a", spark.createDataFrame([(1, "a")], "id long, tag string"), frozenset(["a"]))
    ctx.register_stream("b", spark.createDataFrame([("b", 2.0)], "tag string, v double"), frozenset(["b"]))
    ctx.sql("CREATE STREAM c WITH (tag='c') AS SELECT tag FROM TAG:'*';")
    out = ctx.sql("SELECT * FROM TAG:'no-matches';")
    assert out.columns == ["id", "tag", "v"]
    assert out.collect() == []
    assert _leaf_count(out) == 3  # one empty frame per stream, not c's plan
    assert _leaf_count(ctx.sql("SELECT * FROM TAG:'a';")) == 1
    # a streaming source stays streaming when it cannot match
    from pyspark.sql import functions as F

    live = SPContext()
    live.register_stream(
        "r", spark.readStream.format("rate").load().withColumn("tag", F.lit("r")), frozenset(["r"])
    )
    assert live.sql("SELECT * FROM TAG:'no-matches';").isStreaming


def test_create_stream_tag_label(spark):
    """A CREATE STREAM tag that Python cannot check as rlike would (a line
    break, or not a string) registers as unknown and is routed by value:
    Java's '$' matches before a final '\\r', Python's does not."""
    from fluent_bit_spark.sp import SPContext, ast, parse_sql

    ctx = SPContext()
    ctx.register_stream("base", _tagged_base(spark))
    for name, tag, src in (("s1", "x\r", "base.a"), ("s2", 5, "base.b")):
        cmd = parse_sql(f"CREATE STREAM {name} AS SELECT id FROM TAG:'{src}';")
        ctx.execute(ast.Command(kind=cmd.kind, name=name, props={"tag": tag}, select=cmd.select))
        assert ctx.stream_tags[name] is None
    assert sorted(r.id for r in ctx.sql("SELECT id FROM TAG:'x';").collect()) == [1, 3]
    assert [r.id for r in ctx.sql("SELECT id FROM TAG:'5';").collect()] == [2]
    assert ctx.stream_tags == {"base": None, "s1": None, "s2": None}


def test_plan_audit_sp_mode(spark, tmp_path, monkeypatch, capsys):
    """tools/plan_audit.py --sp prints each statement's plan size; a
    re-run CREATE STREAM does not grow the plans after it."""
    import importlib.util
    from pathlib import Path

    path = Path(__file__).resolve().parents[1] / "tools" / "plan_audit.py"
    spec = importlib.util.spec_from_file_location("plan_audit", path)
    tool = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(tool)
    create = (
        "CREATE STREAM hot WITH (tag='hot') AS "
        "SELECT user_id, value FROM TAG:'events.*' WHERE value > 100;"
    )
    stmts = tmp_path / "statements.sql"
    stmts.write_text(f"{create}\n\n{create}\nSELECT event_id FROM TAG:'events.*' WHERE value > 100;\n")
    got = tool.audit_sp(spark, str(stmts))
    assert [r["leaves"] for r in got] == [1, 1, 1]
    assert all(r["compile_ms"] > 0 for r in got)
    monkeypatch.setattr("sys.argv", ["plan_audit.py", "--sp", str(stmts)])
    assert tool.main() == 0
    lines = capsys.readouterr().out.splitlines()
    assert len(lines) == 4 and lines[-1].split()[0] == "1"
