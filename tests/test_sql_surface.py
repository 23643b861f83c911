"""SQL TVF surface: the reference's `SELECT * FROM coverage(...)` /
`pileup(...)` / `bdg_grange(...)` queries (GenomicIntervalTVFTestSuite,
PileupTestBase DDL style) through the preprocessor."""

from sequila_spark.session import SequilaSession


def _reads_view(spark):
    df = spark.createDataFrame(
        [
            ("s1", "r1", "1", 1, 10, "ACGTACGTAC"),
            ("s1", "r2", "1", 5, 14, "ACGTACGTAC"),
            ("s2", "r3", "1", 5, 14, "ACGTACGTAC"),
        ],
        "sample_id string, qname string, contig string, pos_start int, pos_end int, seq string",
    )
    df.createOrReplaceTempView("reads_sql_test")


def test_coverage_tvf(spark):
    _reads_view(spark)
    ss = SequilaSession(spark)
    rows = ss.sql(
        "SELECT * FROM coverage('reads_sql_test', 's1', 'blocks') ORDER BY pos_start"
    ).collect()
    got = [(r["pos_start"], r["pos_end"], r["coverage"]) for r in rows]
    assert got == [(1, 4, 1), (5, 10, 2), (11, 14, 1)]


def test_coverage_tvf_all_samples(spark):
    _reads_view(spark)
    ss = SequilaSession(spark)
    rows = ss.sql("SELECT max(coverage) AS m FROM coverage('reads_sql_test')").collect()
    assert rows[0]["m"] == 3


def test_pileup_tvf(spark):
    _reads_view(spark)
    ss = SequilaSession(spark)
    rows = ss.sql(
        "SELECT * FROM pileup('reads_sql_test', 's1') WHERE pos_start = 5"
    ).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["coverage"] == 2
    # no ref table given -> ref is null, all bases counted as non-ref-less
    assert r["countRef"] + r["countNonRef"] == 2 or r["coverage"] == 2


def test_grange_tvf_join(spark):
    _reads_view(spark)
    ss = SequilaSession(spark)
    rows = ss.sql(
        """
        SELECT r.qname FROM reads_sql_test r
        JOIN bdg_grange('1', 12, 20) g
          ON r.contig = g.contig
         AND r.pos_start <= g.pos_end AND r.pos_end >= g.pos_start
        """
    ).collect()
    assert sorted(r["qname"] for r in rows) == ["r2", "r3"]


def test_plain_sql_passthrough(spark):
    ss = SequilaSession(spark)
    assert ss.sql("SELECT 1 + 1 AS x").first()["x"] == 2


def test_tvf_robust_parsing(spark):
    """Parser hardening: TVF names inside string literals and scalar-call
    positions are untouched; arguments may be nested function calls,
    arithmetic, and quoted strings containing commas/parens."""
    import pytest

    _reads_view(spark)
    ss = SequilaSession(spark)
    # TVF name inside a string literal: must NOT be rewritten
    r = ss.sql("SELECT 'call coverage(1,2) here' AS s").first()
    assert r["s"] == "call coverage(1,2) here"
    # scalar position (not FROM/JOIN): left for Spark to resolve — the
    # column named coverage still works
    r = ss.sql(
        "SELECT max(coverage) AS m FROM coverage('reads_sql_test') WHERE coverage > 0"
    ).first()
    assert r["m"] == 3
    # nested function calls / arithmetic in TVF args
    rows = ss.sql(
        "SELECT * FROM coverage(lower('READS_SQL_TEST'), concat('s', '1'), 'blocks')"
    ).collect()
    assert len(rows) == 3
    rows = ss.sql("SELECT * FROM bdg_grange('1', 2 + 3, 10 * 2)").collect()
    assert rows[0]["pos_start"] == 5 and rows[0]["pos_end"] == 20
    # quoted comma and parens in an argument survive splitting
    spark.createDataFrame(
        [("a,(b", "1", 1, 5, "ACGTA")],
        "sample_id string, contig string, pos_start int, pos_end int, seq string",
    ).createOrReplaceTempView("odd_sample_names")
    rows = ss.sql("SELECT * FROM coverage('odd_sample_names', 'a,(b')").collect()
    assert len(rows) == 1 and rows[0]["coverage"] == 1
    # unbalanced parens -> clear error
    with pytest.raises(ValueError, match="unbalanced"):
        ss.sql("SELECT * FROM coverage('reads_sql_test'")
    # non-constant argument -> clear error
    with pytest.raises(ValueError, match="unsupported TVF argument"):
        ss.sql("SELECT * FROM coverage(some_column)")


def test_tvf_from_list_comment_and_paren(spark):
    """TVF calls after a top-level FROM-list comma, inside parens, or
    behind a comment are still recognized; a TVF in a non-FROM position
    raises a clear ValueError instead of Spark's unresolved error."""
    import pytest

    _reads_view(spark)
    ss = SequilaSession(spark)
    # comma-separated FROM list (implicit cross join)
    rows = ss.sql(
        "SELECT t.pos_start, c.coverage FROM reads_sql_test t, "
        "coverage('reads_sql_test', 's1', 'blocks') c WHERE c.coverage = 2"
    ).collect()
    assert len(rows) == 3  # 3 reads x 1 block with coverage 2
    # parenthesized FROM relation
    rows = ss.sql(
        "SELECT * FROM (coverage('reads_sql_test', 's1', 'blocks'))"
    ).collect()
    assert len(rows) == 3
    # comment between FROM and the call; comment inside the arg list
    rows = ss.sql(
        "SELECT * FROM -- the TVF\n"
        " coverage('reads_sql_test', /* sample */ 's1', 'blocks')"
    ).collect()
    assert len(rows) == 3
    # a '--' inside a string literal is NOT a comment
    spark.createDataFrame(
        [("s--1", "1", 1, 5, "ACGTA")],
        "sample_id string, contig string, pos_start int, pos_end int, seq string",
    ).createOrReplaceTempView("dashed_sample")
    rows = ss.sql("SELECT * FROM coverage('dashed_sample', 's--1')").collect()
    assert len(rows) == 1
    # TVF outside a FROM position -> clear error naming the call
    with pytest.raises(ValueError, match="not rewritten"):
        ss.sql("SELECT pileup('reads_sql_test') AS x")
    # a user's own function sharing a TVF name in WHERE/SELECT args is
    # left alone (the comma/paren rule only applies inside FROM lists)
    spark.udf.register("coverage", lambda x: x + 1, "int")
    try:
        r = ss.sql(
            "SELECT pos_start FROM reads_sql_test "
            "WHERE greatest(1, coverage(pos_start)) > 0 AND sample_id = 's1'"
        ).count()
        assert r == 2
    finally:
        spark.sql("DROP TEMPORARY FUNCTION IF EXISTS coverage")


def test_session_dataset_api(spark):
    """SequilaSession dataset-API entry points (SequilaSession.scala:89-112
    parity): coverage/pileup/range_join/grange as methods."""
    from pyspark.sql import functions as F

    from sequila_spark.session import SequilaSession

    ss = SequilaSession(spark)
    _reads_view(spark)
    cov = ss.coverage("reads_sql_test", mode="blocks", use_cigar=False)
    assert cov.count() > 0
    p = ss.pileup("reads_sql_test")
    assert p.where(F.col("coverage") > 0).count() > 0
    iv = ss.grange("1", 1, 100)
    j = ss.range_join(iv, spark.table("reads_sql_test"))
    assert j.count() == 3


def test_tvf_after_subquery_in_from_list(spark):
    """A TVF after a comma in a FROM list must be recognized even when a
    preceding subquery contains WHERE/GROUP BY (clause keywords inside
    balanced parens don't leak into the position check)."""
    _reads_view(spark)
    ss = SequilaSession(spark)
    rows = ss.sql(
        "SELECT c.coverage FROM "
        "(SELECT * FROM reads_sql_test WHERE pos_start > 0) r, "
        "coverage('reads_sql_test', 's1', 'blocks') c "
        "WHERE c.coverage = 2"
    ).collect()
    assert len(rows) == 3  # 3 subquery rows x 1 block with coverage 2
    # JOIN ... ON then comma continuation
    rows = ss.sql(
        "SELECT c.coverage FROM reads_sql_test a JOIN reads_sql_test b "
        "ON a.qname = b.qname, coverage('reads_sql_test', 's1', 'blocks') c "
        "WHERE c.coverage = 2 AND a.qname = 'r1'"
    ).collect()
    assert len(rows) == 1


def test_tvf_literal_braces(spark):
    """The query reaches Spark through its string formatter once it holds
    a TVF call, so literal braces must survive unchanged, with and
    without a call."""
    _reads_view(spark)
    ss = SequilaSession(spark)
    r = ss.sql(
        "SELECT '{x} {{y}}' AS s, count(*) AS n "
        "FROM coverage('reads_sql_test', 's1', 'blocks')"
    ).first()
    assert (r["s"], r["n"]) == ("{x} {{y}}", 3)
    assert ss.sql("SELECT '{z}' AS s").first()["s"] == "{z}"


def test_concurrent_tvf_statements(spark):
    """Two threads run TVF statements over different tables in one session.
    Each statement's frames get their own views, so neither thread reads
    the other's coverage."""
    from concurrent.futures import ThreadPoolExecutor

    schema = "qname string, contig string, pos_start int, pos_end int"
    spark.createDataFrame(
        [("a1", "1", 1, 10), ("a2", "1", 5, 14)], schema
    ).createOrReplaceTempView("tvf_race_a")
    spark.createDataFrame([("b1", "2", 100, 109)], schema).createOrReplaceTempView(
        "tvf_race_b"
    )
    expected = {
        "tvf_race_a": [("1", 1, 4, 1), ("1", 5, 10, 2), ("1", 11, 14, 1)] * 2,
        "tvf_race_b": [("2", 100, 109, 1)] * 2,
    }
    ss = SequilaSession(spark)

    def run(table):
        # two calls per statement: the second call's planning sits between
        # the first frame's registration and the statement's analysis
        got = []
        for _ in range(4):
            rows = ss.sql(
                f"SELECT * FROM coverage('{table}', 'blocks') "
                f"UNION ALL SELECT * FROM coverage('{table}', 'blocks')"
            ).collect()
            got.append(sorted((r["contig"], r["pos_start"], r["pos_end"], r["coverage"]) for r in rows))
        return table, got

    with ThreadPoolExecutor(max_workers=2) as pool:
        results = list(pool.map(run, ["tvf_race_a", "tvf_race_b"]))
    for table, got in results:
        for rows in got:
            assert rows == sorted(expected[table]), table
