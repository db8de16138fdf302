"""OGR SQL string front-end (gdal_spark/sqlfrontend.py) — the swq
dialect parsed from SQL TEXT and lowered onto the existing operators.

Fixture style follows the reference's own suite
(autotest/ogr/ogr_sql_test.py, ogr_sql_rfc28.py): tiny deterministic
layers, expected row SETS asserted exactly.  Every dialect quirk the
module claims (case-insensitive string compares, LIKE vs ILIKE
sensitivity, div-by-zero INT_MAX, non-Kleene AND/OR nulls, SUBSTR
offset rules, first-match join, summary/DISTINCT modes, special
fields) is pinned here against hand-derived expectations."""

import pytest

from gdal_spark.sqlfrontend import (
    OgrLayer,
    OgrSqlError,
    execute_sql,
    parse,
)


@pytest.fixture(scope="module")
def poly_layer(spark):
    # the layer-algebra-style fixture: id, name (mixed case), value,
    # nullable tag, rect corners
    rows = [
        (1, "Alpha", 10.0, "x=>1, b=>two", 0.0, 0.0, 2.0, 2.0),
        (2, "beta", 25.0, None, 1.0, 1.0, 3.0, 3.0),
        (3, "GAMMA", 31.5, "x=>3", 2.0, 0.0, 5.0, 1.0),
        (4, "alpha", -7.0, None, 0.0, 0.0, 1.0, 4.0),
        (5, "Delta_5", 0.0, "x=>5", 1.0, 1.0, 2.0, 2.0),
    ]
    df = spark.createDataFrame(
        rows,
        "fid bigint, name string, value double, tags string, "
        "xmin double, ymin double, xmax double, ymax double",
    )
    return OgrLayer(
        df,
        fid="fid",
        geom_area="(xmax - xmin) * (ymax - ymin)",
        style="concat('PEN(c:#000000,w:', fid, 'px)')",
        geometry_type="'POLYGON'",
    )


@pytest.fixture(scope="module")
def dim_layer(spark):
    # duplicate join keys on purpose: first-match must pick min fid
    rows = [
        (101, 1, "first-one"),
        (102, 1, "second-one"),
        (103, 2, "only-two"),
        (104, 9, "orphan"),
    ]
    df = spark.createDataFrame(rows, "dfid bigint, ref bigint, label string")
    return OgrLayer(df, fid="dfid")


def rows(df):
    return sorted(tuple(r) for r in df.collect())


class TestRecordset:
    def test_projection_cast_arith(self, spark, poly_layer):
        out = execute_sql(
            spark,
            "SELECT fid, CAST(value AS integer) AS v_int, "
            "fid * 2 + 1 AS fx, value / 2.0 AS half "
            "FROM layer WHERE fid <= 3",
            {"layer": poly_layer},
        )
        got = rows(out)
        # CAST truncates toward zero (C static_cast)
        assert got == [
            (1, 10, 3, 5.0),
            (2, 25, 5, 12.5),
            (3, 31, 7, 15.75),
        ]

    def test_cast_truncates_not_rounds(self, spark, poly_layer):
        out = execute_sql(
            spark,
            "SELECT fid, CAST(value AS integer) v FROM layer "
            "WHERE fid = 3 OR fid = 4",
            {"layer": poly_layer},
        )
        # 31.5 -> 31 (not 32), -7.0 -> -7
        assert rows(out) == [(3, 31), (4, -7)]

    def test_string_compare_case_insensitive(self, spark, poly_layer):
        # strcasecmp: 'ALPHA' = 'alpha' = 'Alpha'
        out = execute_sql(
            spark,
            "SELECT fid FROM layer WHERE name = 'ALPHA'",
            {"layer": poly_layer},
        )
        assert rows(out) == [(1,), (4,)]

    def test_in_between_case_insensitive(self, spark, poly_layer):
        out = execute_sql(
            spark,
            "SELECT fid FROM layer WHERE name IN ('BETA', 'gamma')",
            {"layer": poly_layer},
        )
        assert rows(out) == [(2,), (3,)]
        out = execute_sql(
            spark,
            "SELECT fid FROM layer WHERE name BETWEEN 'ALPHA' AND 'BETA'",
            {"layer": poly_layer},
        )
        # lower-folded range [alpha, beta]: Alpha, beta, alpha
        assert rows(out) == [(1,), (2,), (4,)]

    def test_like_case_sensitive_ilike_not(self, spark, poly_layer):
        # LIKE is case-SENSITIVE (OGR_SQL_LIKE_AS_ILIKE=FALSE default)
        out = execute_sql(
            spark,
            "SELECT fid FROM layer WHERE name LIKE '%alpha%'",
            {"layer": poly_layer},
        )
        assert rows(out) == [(4,)]
        out = execute_sql(
            spark,
            "SELECT fid FROM layer WHERE name ILIKE '%alpha%'",
            {"layer": poly_layer},
        )
        assert rows(out) == [(1,), (4,)]

    def test_like_escape(self, spark, poly_layer):
        # '_' is a wildcard unless escaped: only Delta_5 has a literal _
        out = execute_sql(
            spark,
            "SELECT fid FROM layer WHERE name LIKE '%!_5%' ESCAPE '!'",
            {"layer": poly_layer},
        )
        assert rows(out) == [(5,)]

    def test_div_by_zero_int_max(self, spark, poly_layer):
        out = execute_sql(
            spark,
            "SELECT fid, fid / (fid % 2) AS d, fid % (fid % 2) AS m "
            "FROM layer WHERE fid IN (2, 3)",
            {"layer": poly_layer},
        )
        # fid=2: 2%2=0 -> INT_MAX; fid=3: 3/1=3, 3%1=0
        assert rows(out) == [(2, 2147483647, 2147483647), (3, 3, 0)]

    def test_float_div_by_zero(self, spark, poly_layer):
        out = execute_sql(
            spark,
            "SELECT fid, value / (value - value) AS d FROM layer "
            "WHERE fid = 1",
            {"layer": poly_layer},
        )
        assert rows(out) == [(1, 2147483647.0)]

    def test_integer_division_truncates(self, spark, poly_layer):
        out = execute_sql(
            spark,
            "SELECT fid, (0 - fid * 7) / 2 AS q FROM layer WHERE fid = 3",
            {"layer": poly_layer},
        )
        # C: -21 / 2 = -10 (trunc toward zero), not -11 (floor)
        assert rows(out) == [(3, -10)]

    def test_and_or_null_quirk(self, spark, poly_layer):
        # tags is NULL for fid 2 and 4; HSTORE on NULL -> NULL
        # OGR OR: NULL OR TRUE is NULL -> row REJECTED (ANSI keeps it)
        out = execute_sql(
            spark,
            "SELECT fid FROM layer "
            "WHERE HSTORE_GET_VALUE(tags, 'x') = '1' OR fid > 0",
            {"layer": poly_layer},
        )
        # only fid=1 has x=>1; fids 3, 5 have x=>3/5 (compare false but
        # NOT null -> OR true accepted); 2, 4 have NULL tags -> rejected
        assert rows(out) == [(1,), (3,), (5,)]
        # OGR AND: NULL AND x = FALSE (never null unless both null) —
        # same acceptance as ANSI; pin the rejection
        out = execute_sql(
            spark,
            "SELECT fid FROM layer "
            "WHERE HSTORE_GET_VALUE(tags, 'x') = '1' AND fid > 0",
            {"layer": poly_layer},
        )
        assert rows(out) == [(1,)]

    def test_not_and_is_null(self, spark, poly_layer):
        out = execute_sql(
            spark,
            "SELECT fid FROM layer WHERE tags IS NULL",
            {"layer": poly_layer},
        )
        assert rows(out) == [(2,), (4,)]
        out = execute_sql(
            spark,
            "SELECT fid FROM layer WHERE NOT name = 'alpha'",
            {"layer": poly_layer},
        )
        assert rows(out) == [(2,), (3,), (5,)]

    def test_substr_rules(self, spark, poly_layer):
        out = execute_sql(
            spark,
            "SELECT fid, SUBSTR(name, 2, 3) a, SUBSTR(name, 0, 2) b, "
            "SUBSTR(name, -3) c, SUBSTR(name, 99) d, SUBSTR(name, 2, -1) e "
            "FROM layer WHERE fid = 1",
            {"layer": poly_layer},
        )
        # 'Alpha': off 2 -> 'lph'; off 0 == 1 -> 'Al'; -3 -> 'pha';
        # past end -> ''; negative len -> ''
        assert rows(out) == [(1, "lph", "Al", "pha", "", "")]

    def test_concat_and_string_plus(self, spark, poly_layer):
        out = execute_sql(
            spark,
            "SELECT CONCAT(name, '/', fid) AS tag, name + '!' AS bang "
            "FROM layer WHERE fid = 2",
            {"layer": poly_layer},
        )
        assert rows(out) == [("beta/2", "beta!")]

    def test_hstore_get_value(self, spark, poly_layer):
        out = execute_sql(
            spark,
            "SELECT fid, HSTORE_GET_VALUE(tags, 'b') AS b FROM layer "
            "WHERE fid = 1",
            {"layer": poly_layer},
        )
        assert rows(out) == [(1, "two")]

    def test_order_limit_offset(self, spark, poly_layer):
        out = execute_sql(
            spark,
            "SELECT fid FROM layer ORDER BY value DESC, fid LIMIT 2 "
            "OFFSET 1",
            {"layer": poly_layer},
        )
        # values desc: 31.5(3), 25(2), 10(1), 0(5), -7(4); skip 1, take 2
        assert [r[0] for r in out.collect()] == [2, 1]

    def test_order_by_unselected_field(self, spark, poly_layer):
        out = execute_sql(
            spark,
            "SELECT name FROM layer ORDER BY value LIMIT 1",
            {"layer": poly_layer},
        )
        assert [r[0] for r in out.collect()] == ["alpha"]  # value -7

    def test_star_except(self, spark, poly_layer):
        out = execute_sql(
            spark,
            "SELECT * EXCEPT (tags, xmin, ymin, xmax, ymax) FROM layer "
            "WHERE fid = 5",
            {"layer": poly_layer},
        )
        assert out.columns == ["fid", "name", "value"]
        assert rows(out) == [(5, "Delta_5", 0.0)]

    def test_special_fields(self, spark, poly_layer):
        out = execute_sql(
            spark,
            "SELECT FID, OGR_GEOM_AREA AS area, OGR_GEOMETRY AS g, "
            "OGR_STYLE AS st FROM layer WHERE fid = 3",
            {"layer": poly_layer},
        )
        assert rows(out) == [(3, 3.0, "POLYGON", "PEN(c:#000000,w:3px)")]

    def test_union_all(self, spark, poly_layer, dim_layer):
        out = execute_sql(
            spark,
            "SELECT fid AS k FROM layer WHERE fid <= 2 "
            "UNION ALL SELECT dfid AS k FROM dim WHERE ref = 9",
            {"layer": poly_layer, "dim": dim_layer},
        )
        assert rows(out) == [(1,), (2,), (104,)]


class TestJoin:
    def test_first_match_left_join(self, spark, poly_layer, dim_layer):
        out = execute_sql(
            spark,
            "SELECT layer.fid, d.label FROM layer "
            "JOIN dim d ON layer.fid = d.ref ORDER BY layer.fid",
            {"layer": poly_layer, "dim": dim_layer},
        )
        got = rows(out)
        # fid 1 has TWO dim matches -> first by dim fid = 'first-one';
        # fids 3..5 unmatched -> null-padded (JOIN is left in OGR SQL)
        assert got == [
            (1, "first-one"),
            (2, "only-two"),
            (3, None),
            (4, None),
            (5, None),
        ]

    def test_first_match_keeps_every_primary_row(self, spark, dim_layer):
        """Primary rows sharing a key value, or with a NULL key, each
        come out once: the first-match window is per primary row, not
        per key value."""
        prim = OgrLayer(
            spark.createDataFrame(
                [(1, 1), (2, 1), (3, None), (4, 2), (5, None)],
                "pfid bigint, k bigint",
            ),
            fid="pfid",
        )
        out = execute_sql(
            spark,
            "SELECT p.pfid, d.label FROM p JOIN dim d ON p.k = d.ref",
            {"p": prim, "dim": dim_layer},
        )
        assert sorted(out.collect(), key=lambda r: r[0]) == [
            (1, "first-one"),
            (2, "first-one"),
            (3, None),
            (4, "only-two"),
            (5, None),
        ]

    def test_join_where_primary_only(self, spark, poly_layer, dim_layer):
        with pytest.raises(OgrSqlError, match="primary"):
            execute_sql(
                spark,
                "SELECT fid FROM layer JOIN dim d ON fid = d.ref "
                "WHERE d.label = 'x'",
                {"layer": poly_layer, "dim": dim_layer},
            )

    def test_join_requires_fid(self, spark, poly_layer):
        nofid = OgrLayer(
            poly_layer.df.selectExpr("fid AS ref2", "name AS nm2")
        )
        with pytest.raises(OgrSqlError, match="fid"):
            execute_sql(
                spark,
                "SELECT layer.fid FROM layer JOIN d2 ON layer.fid = d2.ref2",
                {"layer": poly_layer, "d2": nofid},
            )


class TestModes:
    def test_summary_mode(self, spark, poly_layer):
        out = execute_sql(
            spark,
            "SELECT COUNT(*) AS n, COUNT(tags) AS n_tags, "
            "MIN(value) AS mn, MAX(name) AS mx_name, SUM(fid) AS s, "
            "AVG(fid) AS a FROM layer",
            {"layer": poly_layer},
        )
        got = out.collect()[0]
        # COUNT(col) skips nulls; MAX(name) is strcmp BYTE order ->
        # 'beta' > 'alpha' > 'collected' caps ('GAMMA' < 'alpha')
        assert tuple(got) == (5, 3, -7.0, "beta", 15, 3.0)

    def test_summary_count_distinct(self, spark, dim_layer):
        out = execute_sql(
            spark,
            "SELECT COUNT(DISTINCT ref) AS n FROM dim",
            {"dim": dim_layer},
        )
        assert out.collect()[0][0] == 3

    def test_summary_stddev(self, spark, poly_layer):
        import statistics

        out = execute_sql(
            spark,
            "SELECT STDDEV_POP(fid) p, STDDEV_SAMP(fid) s FROM layer",
            {"layer": poly_layer},
        )
        got = out.collect()[0]
        assert got[0] == pytest.approx(statistics.pstdev([1, 2, 3, 4, 5]))
        assert got[1] == pytest.approx(statistics.stdev([1, 2, 3, 4, 5]))

    def test_summary_rejects_mixed(self, spark, poly_layer):
        with pytest.raises(OgrSqlError, match="summary"):
            execute_sql(
                spark,
                "SELECT fid, COUNT(*) FROM layer",
                {"layer": poly_layer},
            )

    def test_distinct_mode(self, spark, dim_layer):
        out = execute_sql(
            spark,
            "SELECT DISTINCT ref FROM dim",
            {"dim": dim_layer},
        )
        assert rows(out) == [(1,), (2,), (9,)]


    def test_distinct_before_limit_offset(self, spark, dim_layer):
        """LIMIT / OFFSET apply to the distinct list (refs 1, 1, 2, 9),
        not to the raw rows."""
        def q(sql):
            return [tuple(r) for r in execute_sql(
                spark, sql, {"dim": dim_layer}
            ).collect()]

        assert q("SELECT DISTINCT ref FROM dim ORDER BY ref LIMIT 2") == [
            (1,),
            (2,),
        ]
        assert q(
            "SELECT DISTINCT ref AS r FROM dim ORDER BY r DESC LIMIT 2 "
            "OFFSET 1"
        ) == [(2,), (1,)]
        assert len(q("SELECT DISTINCT ref FROM dim LIMIT 3")) == 3


class TestParserErrors:
    def test_unknown_layer(self, spark, poly_layer):
        with pytest.raises(OgrSqlError, match="unknown layer"):
            execute_sql(spark, "SELECT a FROM nope", {"layer": poly_layer})

    def test_unknown_field(self, spark, poly_layer):
        with pytest.raises(OgrSqlError, match="not found"):
            execute_sql(
                spark, "SELECT nosuch FROM layer", {"layer": poly_layer}
            )

    def test_non_equi_join_rejected(self, spark, poly_layer, dim_layer):
        with pytest.raises(OgrSqlError, match="equi-join"):
            parse("SELECT fid FROM layer JOIN dim d ON fid < d.ref")

    def test_lex_error(self):
        with pytest.raises(OgrSqlError):
            parse("SELECT ~a FROM t")
